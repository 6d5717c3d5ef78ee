package graft.sources

import java.util

import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types._
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
class ArcDataSource extends FrameSource("arc", ArcTable.Schema) {
  override protected def codec(o: ReadOptions,
      props: util.Map[String, String]): FrameCodec =
    new ArcCodec(o.unitScale(0.1), o.mode)
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

  /** Lines per frame of (natoms, box line present). */
  def frameLines(shape: (Int, Boolean)): Int =
    shape._1 + 1 + (if (shape._2) 1 else 0)

  /** A box line is six numeric tokens; an atom line's second token is
    * a name. */
  def isBoxLine(l: String): Boolean = {
    val t = l.trim.split("\\s+")
    t.length == 6 && t.forall(tok =>
      scala.util.Try(tok.toDouble).isSuccess)
  }
}

/** Index: natoms from the header, box presence from the structure of
  * the second line (a partition's seek state), frames from the line
  * count. Atom ids are the archive's id column. */
final class ArcCodec(unitScale: Double, override val mode: String)
    extends FrameCodec {
  override def name: String = "arc"
  override def schema: StructType = ArcTable.Schema
  override def extensions: Seq[String] = Seq(".arc", ".arc.gz")
  override def perAtom: Set[String] = Set("element")

  override def index(p: String, frameHi: Long): FrameIndex = {
    val src = XyzLines.open(p)
    try {
      val it = src.getLines()
      if (!it.hasNext) return new FrameIndex(0L, 0)
      val nAtoms = it.next().trim.split("\\s+")(0).toInt
      if (!it.hasNext) return new FrameIndex(0L, nAtoms)
      val hasBox = ArcTable.isBoxLine(it.next())
      var lines = 2L
      while (it.hasNext) { it.next(); lines += 1 }
      new FrameIndex(lines / ArcTable.frameLines((nAtoms, hasBox)), nAtoms) {
        override def at(start: Long, end: Long): Any = (nAtoms, hasBox)
      }
    } finally src.close()
  }

  override def open(part: FramePartition, need: Set[String],
      atomHi: Int): FrameReader =
    new ArcFrameReader(unitScale, mode, part, need)

  override def writes: Boolean = true
  override def writeBuilder(path: String, info: LogicalWriteInfo): WriteBuilder =
    new ArcWriteBuilder(path, unitScale, info)
}

private final class ArcFrameReader(unitScale: Double, mode: String,
    part: FramePartition, need: Set[String])
    extends TextFrameReader("arc", mode, part, part.startFrame *
      ArcTable.frameLines(part.at.asInstanceOf[(Int, Boolean)])) {

  private val (n, hasBox) = part.at.asInstanceOf[(Int, Boolean)]
  private val axes = Array(need("x"), need("y"), need("z"))
    .map(_ || dropMalformed)

  private var box: Array[Float] = _
  private val elems = if (need("element")) new Array[String](n) else null
  if (need("atom_id")) ids = new Array[Int](n)
  if (dropMalformed) ok = new Array[Boolean](n)

  override def next(): Boolean = {
    if (frame + 1 >= part.endFrame || !lines.hasNext) return false
    frame += 1
    lines.next() // natoms [title] — validated at plan time
    // a malformed box line under DROPMALFORMED drops the frame's box
    // (null + counted) instead of failing the task
    box =
      if (hasBox) {
        try {
          val bl = if (lines.hasNext) lines.next() else ""
          val t = bl.trim.split("\\s+")
          if (t.length < 6) fail("box line needs 6 values", bl)
          Array(
            (num(t(0), "box a", bl) * unitScale).toFloat,
            (num(t(1), "box b", bl) * unitScale).toFloat,
            (num(t(2), "box c", bl) * unitScale).toFloat,
            num(t(3), "alpha", bl).toFloat,
            num(t(4), "beta", bl).toFloat,
            num(t(5), "gamma", bl).toFloat)
        } catch {
          case _: IllegalStateException if dropMalformed =>
            dropped += 1; null
        }
      } else null
    val xs = coords(3 * n)
    var a = 0
    while (a < n && lines.hasNext) {
      val line = lines.next()
      try {
        val parts = line.trim.split("\\s+")
        if (parts.length < 5)
          fail(s"atom line has ${parts.length} fields, need 5", line)
        if (ids != null || dropMalformed) {
          val id = num(parts(0), "id", line).toInt
          if (ids != null) ids(a) = id
        }
        if (elems != null) elems(a) = parts(1)
        var k = 0
        while (k < 3) {
          if (axes(k)) xs(3 * a + k) = (num(parts(k + 2),
            "xyz".substring(k, k + 1), line) * unitScale).toFloat
          k += 1
        }
        if (ok != null) ok(a) = true
      } catch {
        case _: IllegalStateException if dropMalformed =>
          ok(a) = false
          dropped += 1
      }
      a += 1
    }
    nAtoms = a
    true
  }

  override def frameValue(ord: Int): Any = ord match {
    case 1 => (frame + part.frameOffset).toDouble
    case k => if (box == null) null else box(k - 7)
  }

  override def atomValue(ord: Int, a: Int): Any =
    UTF8String.fromString(elems(a))
}
