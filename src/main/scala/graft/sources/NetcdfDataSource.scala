package graft.sources

import java.nio.ByteBuffer
import java.util

import org.apache.spark.sql.types._

/** One variable of a parsed netCDF-classic header. `isRecord` means the
  * first dimension is the unlimited (record) dimension; `begin` is the
  * absolute byte offset of the variable's first slab, and a record
  * variable's slab for record r starts at `begin + r * recSize` (the
  * file-wide record stride). `scale` is the AMBER-convention
  * `scale_factor` attribute (1.0 when absent). */
private[sources] final case class NcVar(
    name: String, ncType: Int, dimIds: Seq[Int], isRecord: Boolean,
    slabBytes: Long, begin: Long, scale: Double)

private[sources] final case class NcDim(name: String, length: Int)

/** Parsed header: dims, vars, record count and stride. */
private[sources] final case class NcHeader(
    version: Int, numRecs: Long, dims: IndexedSeq[NcDim],
    vars: Seq[NcVar], recSize: Long) {
  def dimLen(id: Int): Int = dims(id).length
  def varNamed(n: String): Option[NcVar] = vars.find(_.name == n)
}

/** Clean-room parser for the public netCDF CLASSIC binary format
  * (CDF-1 magic `CDF\x01`, CDF-2 `CDF\x02` with 64-bit offsets) — the
  * container the AMBER NetCDF trajectory/restart conventions use. The
  * format is a simple self-describing header (dimension list,
  * attribute list, variable list with explicit byte offsets) over
  * big-endian fixed-layout data, so every record slab is
  * seek-addressable by pure arithmetic — no codec library needed.
  * netCDF-4 files are HDF5 containers (magic `\x89HDF`) and are
  * rejected with a clear message, as is CDF-5.
  *
  * Reference registry rows closed by this parser:
  * `.ncdf/.netcdf/.nc → [xyz, time, unitcell_lengths,
  * unitcell_angles]` and `.ncrst` (core/dask_traj.py:34-37,45). */
private[sources] object NetcdfFormat {
  val TagDimension = 0x0A
  val TagVariable = 0x0B
  val TagAttribute = 0x0C

  // nc_type codes and sizes
  private val TypeSizes =
    Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 5 -> 4, 6 -> 8)

  def fail(path: String, what: String): Nothing =
    throw new IllegalArgumentException(s"netcdf parse error in $path: $what")

  /** Reads the whole header (it precedes all data and is small) and
    * resolves record geometry. */
  def readHeader(raf: FsRandom, path: String): NcHeader = {
    // headers are tiny (KBs); 64 KB covers generous attribute lists,
    // and we re-read larger if the cursor runs past the buffer
    var cap = 64 * 1024
    var buf: Array[Byte] = null
    var total = raf.length()
    while (buf == null) {
      val n = math.min(cap.toLong, total).toInt
      val b = new Array[Byte](n)
      raf.seek(0)
      raf.readFully(b)
      try {
        return parseHeader(b, total, path,
          incomplete = n < total)
      } catch {
        case HeaderTooSmall if n < total =>
          cap *= 4
          if (cap > 64 * 1024 * 1024) fail(path, "header exceeds 64 MB")
      }
    }
    sys.error("unreachable")
  }

  private object HeaderTooSmall extends RuntimeException

  private def parseHeader(b: Array[Byte], fileLen: Long, path: String,
      incomplete: Boolean): NcHeader = {
    val bb = ByteBuffer.wrap(b)
    def need(n: Int): Unit =
      if (bb.remaining() < n) {
        if (incomplete) throw HeaderTooSmall
        else fail(path, "truncated header")
      }
    need(4)
    if (b(0) == 0x89.toByte && b(1) == 'H' && b(2) == 'D' && b(3) == 'F')
      fail(path, "this is a netCDF-4/HDF5 container — only the classic " +
        "CDF-1/CDF-2 format is supported (AMBER writes classic)")
    if (b(0) != 'C' || b(1) != 'D' || b(2) != 'F')
      fail(path, s"bad magic ${b(0)},${b(1)},${b(2)} — not a netCDF file")
    val version = b(3).toInt
    if (version == 5) fail(path,
      "CDF-5 (64-bit data) is not supported; AMBER writes CDF-1/CDF-2")
    if (version != 1 && version != 2)
      fail(path, s"unknown CDF version $version")
    bb.position(4)
    def int(): Int = { need(4); bb.getInt }
    def offset(): Long =
      if (version == 2) { need(8); bb.getLong } else int().toLong
    def name(): String = {
      val n = int()
      if (n < 0 || n > 64 * 1024) fail(path, s"bad name length $n")
      val padded = (n + 3) / 4 * 4
      need(padded)
      val s = new String(b, bb.position(), n, "UTF-8")
      bb.position(bb.position() + padded)
      s
    }
    val numRecsRaw = int()

    // dim_list
    val dimTag = int(); val nDims = int()
    if (dimTag != TagDimension && !(dimTag == 0 && nDims == 0))
      fail(path, s"expected dimension list, got tag $dimTag")
    val dims = (0 until nDims).map { _ =>
      val nm = name(); val len = int()
      NcDim(nm, len)
    }
    val recDimId = dims.indexWhere(_.length == 0)

    def skipAttrsReturningScale(): Double = {
      val tag = int(); val n = int()
      if (tag != TagAttribute && !(tag == 0 && n == 0))
        fail(path, s"expected attribute list, got tag $tag")
      var scale = 1.0
      (0 until n).foreach { _ =>
        val nm = name()
        val t = int()
        val cnt = int()
        val sz = TypeSizes.getOrElse(t,
          fail(path, s"attribute '$nm' has unknown type $t"))
        val bytes = (cnt.toLong * sz + 3) / 4 * 4
        if (bytes > Int.MaxValue) fail(path, "oversized attribute")
        if (nm == "scale_factor" && cnt == 1 && (t == 5 || t == 6)) {
          need(bytes.toInt)
          val p = bb.position()
          scale = if (t == 6) bb.getDouble(p) else bb.getFloat(p).toDouble
          bb.position(p + bytes.toInt)
        } else {
          need(bytes.toInt)
          bb.position(bb.position() + bytes.toInt)
        }
      }
      scale
    }
    skipAttrsReturningScale() // global attributes (conventions etc.)

    // var_list
    val varTag = int(); val nVars = int()
    if (varTag != TagVariable && !(varTag == 0 && nVars == 0))
      fail(path, s"expected variable list, got tag $varTag")
    val vars = (0 until nVars).map { _ =>
      val nm = name()
      val nd = int()
      val ids = (0 until nd).map(_ => int())
      val scale = skipAttrsReturningScale()
      val t = int()
      int() // vsize as written (untrusted: recomputed below)
      val begin = offset()
      val isRec = ids.nonEmpty && ids.head == recDimId && recDimId >= 0
      val sz = TypeSizes.getOrElse(t,
        fail(path, s"variable '$nm' has unknown type $t"))
      val nonRec = (if (isRec) ids.tail else ids)
        .map(i => dims(i).length.toLong)
      val slab = nonRec.product * sz
      NcVar(nm, t, ids, isRec, slab, begin, scale)
    }
    // record stride: padded slabs — UNLESS there is exactly one record
    // variable of a sub-4-byte type (the format's packing special case)
    val recVars = vars.filter(_.isRecord)
    val recSize =
      if (recVars.size == 1) recVars.head.slabBytes
      else recVars.map(v => (v.slabBytes + 3) / 4 * 4).sum
    val numRecs: Long = {
      val declared =
        if (numRecsRaw >= 0) numRecsRaw.toLong
        else if (recVars.isEmpty || recSize == 0) 0L
        else Long.MaxValue // STREAMING sentinel: length-derived below
      if (recVars.isEmpty || recSize == 0) math.max(declared, 0L)
      else {
        // clamp to what the file's length actually holds: a torn tail
        // (interrupted writer, partial copy) then reads as the whole
        // records present instead of failing mid-slab at runtime —
        // and the STREAMING sentinel (-1) resolves the same way
        val dataStart = recVars.map(_.begin).min
        val byLen = math.max(0L, (fileLen - dataStart) / recSize)
        if (declared != Long.MaxValue && byLen < declared)
          org.slf4j.LoggerFactory.getLogger("graft.sources.netcdf").warn(
            s"netcdf $path: header declares $declared records but the " +
              s"file length holds $byLen — reading $byLen")
        math.min(declared, byLen)
      }
    }
    NcHeader(version, numRecs, dims, vars, recSize)
  }

  def typeSize(t: Int): Int = TypeSizes(t)
}

/** The AMBER-convention view over one parsed file: the geometry the
  * reader needs per frame. `frames` is numrecs for a trajectory and 1
  * for a restart (no record dimension on `coordinates`). */
private[sources] final case class AmberProfile(
    header: NcHeader, nAtoms: Int, frames: Long,
    coords: NcVar, time: Option[NcVar],
    cellLen: Option[NcVar], cellAng: Option[NcVar]) {
  def isRestart: Boolean = !coords.isRecord
}

private[sources] object AmberProfile {
  def of(h: NcHeader, path: String): AmberProfile = {
    val coords = h.varNamed("coordinates").getOrElse(
      NetcdfFormat.fail(path, "no 'coordinates' variable — not an " +
        "AMBER-convention trajectory/restart"))
    val coordDims = if (coords.isRecord) coords.dimIds.tail
                    else coords.dimIds
    if (coordDims.size != 2 || h.dimLen(coordDims(1)) != 3)
      NetcdfFormat.fail(path, "coordinates must be [(frame,) atom, " +
        s"spatial=3]; got dims ${coords.dimIds}")
    if (coords.ncType != 5 && coords.ncType != 6)
      NetcdfFormat.fail(path,
        s"coordinates must be float or double, got type ${coords.ncType}")
    val nAtoms = h.dimLen(coordDims(0))
    val frames = if (coords.isRecord) h.numRecs else 1L
    def opt(n: String, values: Int): Option[NcVar] =
      h.varNamed(n).filter { v =>
        val d = if (v.isRecord) v.dimIds.tail else v.dimIds
        (v.ncType == 5 || v.ncType == 6) &&
          d.map(h.dimLen).product == values &&
          v.isRecord == coords.isRecord
      }
    AmberProfile(h, nAtoms, frames, coords,
      opt("time", 1), opt("cell_lengths", 3), opt("cell_angles", 3))
  }
}

/** DataSourceV2 connector for AMBER NetCDF trajectories and restarts —
  * four reference registry extensions (`.nc`, `.ncdf`, `.netcdf` →
  * `[xyz, time, unitcell_lengths, unitcell_angles]`, and `.ncrst`,
  * core/dask_traj.py:34-37,45) previously scoped out as codec-blocked.
  * The container is netCDF CLASSIC (see [[NetcdfFormat]]) — a public
  * fixed-layout binary whose record slabs are seek-addressable by
  * arithmetic, so planning is the DCD shape: `begin + rec × recSize`,
  * no per-frame index walk at all. Restart files (no record
  * dimension; double-precision coordinates; optional velocities) read
  * as one-frame trajectories, so a directory of `.ncrst` checkpoints
  * scans exactly like the inpcrd family.
  *
  * Units are AMBER-native (Å, ps); `unit_scale` defaults to 1.0. The
  * AMBER `scale_factor` attribute, when present, is applied on read.
  *
  * Usage: `spark.read.format("netcdf").option("chunks", 100)
  * .load(path)`. */
class NetcdfDataSource extends FrameSource("netcdf", NetcdfTable.Schema) {
  // file is already Å (AMBER native units)
  override protected def codec(o: ReadOptions,
      props: util.Map[String, String]): FrameCodec =
    new NetcdfCodec(o.unitScale(1.0), o.topAtoms)
}

object NetcdfTable {
  /** Long layout + time + unitcell lengths/angles — the `.nc` registry
    * column set (core/dask_traj.py:34-37). Restarts have no `time`
    * record variable per frame; a scalar `time` still rides every
    * row. */
  val Schema: StructType = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("time", DoubleType, nullable = false),
    StructField("atom_id", IntegerType, nullable = false),
    StructField("x", FloatType, nullable = false),
    StructField("y", FloatType, nullable = false),
    StructField("z", FloatType, nullable = false),
    StructField("box_a", FloatType, nullable = true),
    StructField("box_b", FloatType, nullable = true),
    StructField("box_c", FloatType, nullable = true),
    StructField("box_alpha", FloatType, nullable = true),
    StructField("box_beta", FloatType, nullable = true),
    StructField("box_gamma", FloatType, nullable = true)))
}

/** Index: one header read per file gives (natoms, frames) — O(1)
  * planning per shard, the DCD/binpos shape (no index walk). Slab
  * addressing needs no seek state: the reader re-reads the (small)
  * header and seeks by arithmetic. */
final class NetcdfCodec(unitScale: Double, override val expectAtoms: Int)
    extends FrameCodec {
  override def name: String = "netcdf"
  override def schema: StructType = NetcdfTable.Schema
  override def extensions: Seq[String] =
    Seq(".nc", ".ncdf", ".netcdf", ".ncrst")

  override def index(path: String, frameHi: Long): FrameIndex = {
    val raf = FsIO.openRandom(path)
    val prof =
      try AmberProfile.of(NetcdfFormat.readHeader(raf, path), path)
      finally raf.close()
    new FrameIndex(prof.frames, prof.nAtoms)
  }

  override def open(part: FramePartition, need: Set[String],
      atomHi: Int): FrameReader =
    new NetcdfFrameReader(unitScale, part, need("x") || need("y") || need("z"),
      Set("box_a", "box_b", "box_c", "box_alpha", "box_beta", "box_gamma")
        .exists(need))
}

/** Arithmetic positioned reads: coordinates slab at
  * `begin + frame × recSize`, one read per referenced variable per
  * frame. When x/y/z are pruned the coordinate slab is never read. */
private final class NetcdfFrameReader(unitScale: Double,
    part: FramePartition, needXyz: Boolean, needCell: Boolean)
    extends FrameReader("netcdf", ParseMode.FailFast, part) {

  private val raf = FsIO.openRandom(part.path)
  private val prof =
    try AmberProfile.of(NetcdfFormat.readHeader(raf, part.path), part.path)
    catch { case e: Throwable => raf.close(); throw e }
  private val recSize = prof.header.recSize

  private val cells = new Array[Float](6)
  private var haveCell = false
  private var time = 0.0

  /** Reads `n` reals of `v` for this frame into doubles, applying the
    * variable's scale_factor. */
  private def readVar(v: NcVar, f: Long, n: Int): Array[Double] = {
    val at = v.begin + (if (v.isRecord) f * recSize else 0L)
    val sz = NetcdfFormat.typeSize(v.ncType)
    val buf = new Array[Byte](n * sz)
    raf.seek(at)
    raf.readFully(buf)
    val bb = ByteBuffer.wrap(buf)
    val out = new Array[Double](n)
    var i = 0
    if (v.ncType == 6) while (i < n) { out(i) = bb.getDouble * v.scale
      i += 1 }
    else while (i < n) { out(i) = bb.getFloat * v.scale; i += 1 }
    out
  }

  override def next(): Boolean = {
    if (frame + 1 >= part.endFrame) return false
    frame += 1
    val f = frame
    nAtoms = prof.nAtoms
    if (needXyz) {
      val n = 3 * prof.nAtoms
      val d = readVar(prof.coords, f, n)
      val xs = coords(n)
      var i = 0
      while (i < n) { xs(i) = (d(i) * unitScale).toFloat; i += 1 }
    }
    time = prof.time.map(v => readVar(v, f, 1)(0))
      .getOrElse((part.frameOffset + f).toDouble)
    haveCell = false
    if (needCell) (prof.cellLen, prof.cellAng) match {
      case (Some(cl), Some(ca)) =>
        val l = readVar(cl, f, 3); val a = readVar(ca, f, 3)
        var i = 0
        while (i < 3) {
          cells(i) = (l(i) * unitScale).toFloat
          cells(3 + i) = a(i).toFloat
          i += 1
        }
        haveCell = true
      case _ => ()
    }
    true
  }

  override def frameValue(ord: Int): Any = ord match {
    case 1 => time
    case n => if (haveCell) cells(n - 6) else null
  }

  override def close(): Unit = raf.close()
}
