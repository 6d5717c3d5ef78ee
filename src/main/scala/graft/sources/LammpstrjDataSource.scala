package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
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
class LammpstrjDataSource extends FrameSource("lammpstrj",
    LammpstrjTable.Schema) {
  override protected def codec(o: ReadOptions,
      props: util.Map[String, String]): FrameCodec =
    new LammpstrjCodec(o.unitScale(1.0), o.mode)
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

/** Index: the first-frame header gives natoms + the ATOMS column
  * layout (a partition's seek state); a line count gives the frame count
  * (9 header lines + natoms data lines per frame). Atom ids are the
  * dump's `id` column, not the atom ordinal. */
final class LammpstrjCodec(unitScale: Double, override val mode: String)
    extends FrameCodec {
  override def name: String = "lammpstrj"
  override def schema: StructType = LammpstrjTable.Schema
  override def extensions: Seq[String] = Seq(".lammpstrj", ".lammpstrj.gz")
  override def perAtom: Set[String] = Set("element")

  override def index(p: String, frameHi: Long): FrameIndex = {
    val src = XyzLines.open(p)
    try {
      val it = src.getLines()
      if (!it.hasNext) return new FrameIndex(0L, 0)
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
      new FrameIndex(lines / (nAtoms + 9), nAtoms) {
        override def at(start: Long, end: Long): Any = (nAtoms, layout)
      }
    } finally src.close()
  }

  override def open(part: FramePartition, need: Set[String],
      atomHi: Int): FrameReader =
    new LammpstrjFrameReader(unitScale, mode, part, need)

  override def sink: Option[FrameSink] = Some(new LammpstrjSink(unitScale))
}

/** Per frame, the fixed 9-line dump header, then `id element x y z`
  * atom lines. The timestep is the frame time, written as an integer
  * when it is one. `BOX BOUNDS` are orthogonal, `0.0..box_a` etc.;
  * tilted boxes would need the inverse of the reader's bound
  * adjustment and are out of the writer's scope (reads take them).
  * The header cannot omit `BOX BOUNDS` without breaking the line
  * arithmetic every dump reader relies on, so a boxless frame writes
  * `0.0 0.0` bounds and reads back with box lengths 0, not null.
  * Coordinates and box lengths divide by `unit_scale`. */
private final class LammpstrjSink(unitScale: Double) extends FrameSink {
  override def ext: String = ".lammpstrj"
  override def required: Seq[String] = Seq("frame_id", "atom_id", "x", "y", "z")
  override def open(path: String, schema: StructType): Shard =
    new TextShard(path, schema) {
      private val Seq(iAtom, iElement, iX, iY, iZ, iA, iB, iC) =
        Seq("atom_id", "element", "x", "y", "z", "box_a", "box_b", "box_c")
          .map(col)

      private def scaled(v: Float): Float = (v / unitScale).toFloat

      override def frame(rows: collection.IndexedSeq[InternalRow]): Unit = {
        val r0 = rows(0)
        val t = time(r0)
        val boxed = present(r0, iA) && present(r0, iB) && present(r0, iC)
        def len(i: Int): Float = if (boxed) r0.getFloat(i) else 0.0f
        out.write("ITEM: TIMESTEP\n" +
          (if (t == t.toLong.toDouble) t.toLong.toString else t.toString) +
          s"\nITEM: NUMBER OF ATOMS\n${rows.length}" +
          "\nITEM: BOX BOUNDS pp pp pp\n" +
          s"0.0 ${scaled(len(iA))}\n0.0 ${scaled(len(iB))}\n" +
          s"0.0 ${scaled(len(iC))}\nITEM: ATOMS id element x y z\n")
        rows.foreach { r =>
          out.write(s"${r.getInt(iAtom)} ${str(r, iElement, "X")} " +
            s"${scaled(r.getFloat(iX))} ${scaled(r.getFloat(iY))} " +
            s"${scaled(r.getFloat(iZ))}\n")
        }
      }
    }
}

/** Positioned chunk read: skip whole frames by line arithmetic, then
  * parse the 9-line header + natoms data lines per frame. */
private final class LammpstrjFrameReader(unitScale: Double, mode: String,
    part: FramePartition, need: Set[String])
    extends TextFrameReader("lammpstrj", mode, part, part.startFrame *
      (part.at.asInstanceOf[(Int, LammpstrjTable.AtomLayout)]._1 + 9)) {

  private val (n, lay) =
    part.at.asInstanceOf[(Int, LammpstrjTable.AtomLayout)]
  private val axes = Array(need("x"), need("y"), need("z"))
    .map(_ || dropMalformed)
  private val cols = Array(lay.x, lay.y, lay.z)

  private var time = 0.0
  // box as (a, b, c, alpha, beta, gamma); null when bounds malformed
  // under DROPMALFORMED
  private var box: Array[Float] = _
  private val elems = if (need("element")) new Array[String](n) else null
  if (need("atom_id")) ids = new Array[Int](n)
  if (dropMalformed) ok = new Array[Boolean](n)

  private def headerLine(prefix: String): String = {
    if (!lines.hasNext) fail(s"truncated frame, expected $prefix", "")
    val l = lines.next()
    if (!l.startsWith(prefix)) fail(s"expected '$prefix'", l)
    l
  }

  /** (lo, hi[, tilt]) triple per axis → lengths + angles via the
    * public LAMMPS bound-adjustment formulas. Orthogonal dumps (2
    * tokens per bounds line) get angles of exactly 90. */
  private def readBox(): Array[Float] = {
    val l1 = if (lines.hasNext) lines.next() else fail("no bounds", "")
    val l2 = if (lines.hasNext) lines.next() else fail("no bounds", "")
    val l3 = if (lines.hasNext) lines.next() else fail("no bounds", "")
    def parse(l: String): Array[Double] =
      l.trim.split("\\s+").map(num(_, "box bound", l))
    val b1 = parse(l1); val b2 = parse(l2); val b3 = parse(l3)
    if (b1.length < 2 || b2.length < 2 || b3.length < 2)
      fail("bounds line needs at least lo hi", l1)
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
    if (frame + 1 >= part.endFrame || !lines.hasNext) return false
    frame += 1
    headerLine("ITEM: TIMESTEP")
    val tsLine = if (lines.hasNext) lines.next() else ""
    time = num(tsLine.trim, "TIMESTEP", tsLine)
    headerLine("ITEM: NUMBER OF ATOMS")
    val nLine = if (lines.hasNext) lines.next() else ""
    val declared = num(nLine.trim, "NUMBER OF ATOMS", nLine).toInt
    if (declared != n)
      fail(s"frame declares $declared atoms, planned $n " +
        "(variable atom counts are not supported)", nLine)
    headerLine("ITEM: BOX BOUNDS")
    box =
      try readBox()
      catch {
        case _: IllegalStateException if dropMalformed =>
          dropped += 1; null
      }
    headerLine("ITEM: ATOMS")
    val xs = coords(3 * n)
    var a = 0
    while (a < n && lines.hasNext) {
      val line = lines.next()
      try {
        val parts = line.trim.split("\\s+")
        if (parts.length < lay.width)
          fail(s"atom line has ${parts.length} fields, header " +
            s"declared ${lay.width}", line)
        if (ids != null || dropMalformed) {
          val id = num(parts(lay.id), "id", line).toInt
          if (ids != null) ids(a) = id
        }
        if (elems != null)
          elems(a) = if (lay.elem >= 0) parts(lay.elem) else "X"
        var k = 0
        while (k < 3) {
          if (axes(k)) xs(3 * a + k) = (num(parts(cols(k)),
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
    case 1 => time
    case k => if (box == null) null else box(k - 7)
  }

  override def atomValue(ord: Int, a: Int): Any =
    UTF8String.fromString(elems(a))
}
