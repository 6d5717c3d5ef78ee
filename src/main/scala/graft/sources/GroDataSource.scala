package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector for the GROMACS `.gro` text format — the
  * second entry of the per-format schema registry (SURVEY §2.1 S4): the
  * reference maps `.gro → [xyz, time, unitcell_vectors]`
  * (core/dask_traj.py:49) through the same `file_returns` dispatch that
  * routes `.xyz`; here each format is its own `DataSourceRegister`
  * short name reporting its own static schema, which is the Spark-native
  * form of that registry. `.gro.gz` reads transparently through the
  * shared [[XyzLines]] machinery, and a directory of `.gro` shards
  * streams through the same micro-batch source shape as xyz
  * (`spark.readStream.format("gro").load(dir)`).
  *
  * File layout per frame (fixed-width, GROMACS manual §5.7):
  *   title line (free text; `t= <time>` suffix carries the frame time)
  *   natoms line
  *   natoms atom lines: resid(5) resname(5) atomname(5) atomnum(5)
  *                      x(8.3) y(8.3) z(8.3) [velocities ignored]
  *   box line: free-format `v1x v2y v3z [v1y v1z v2x v2z v3x v3y]`
  *             (off-diagonal terms present only for triclinic cells)
  *
  * Output is the long layout: one row per (frame, atom), with the box
  * as the three diagonal vector components plus the six off-diagonal
  * terms (0 when absent — orthorhombic), i.e. full unitcell_vectors.
  *
  * Usage: `spark.read.format("gro").option("chunks", 100).load(path)`.
  * `path` may be a single file, a `load(paths: _*)` list, a trailing
  * -segment glob, or a DIRECTORY of `*.gro`/`*.gro.gz`
  * shards (read in name order, globally contiguous frame ids).
  */
class GroDataSource extends FrameSource("gro", GroTable.Schema) {
  override protected def codec(o: ReadOptions,
      props: util.Map[String, String]): FrameCodec = new GroCodec(o.mode)
}

object GroTable {
  val Schema: StructType = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("time", DoubleType, nullable = false),
    StructField("atom_id", IntegerType, nullable = false),
    StructField("res_id", IntegerType, nullable = false),
    StructField("res_name", StringType, nullable = false),
    StructField("atom_name", StringType, nullable = false),
    StructField("x", FloatType, nullable = false),
    StructField("y", FloatType, nullable = false),
    StructField("z", FloatType, nullable = false),
    // full unitcell_vectors (v1, v2, v3 rows); off-diagonals are 0 for
    // orthorhombic boxes
    StructField("bv1x", FloatType, nullable = true),
    StructField("bv1y", FloatType, nullable = true),
    StructField("bv1z", FloatType, nullable = true),
    StructField("bv2x", FloatType, nullable = true),
    StructField("bv2y", FloatType, nullable = true),
    StructField("bv2z", FloatType, nullable = true),
    StructField("bv3x", FloatType, nullable = true),
    StructField("bv3y", FloatType, nullable = true),
    StructField("bv3z", FloatType, nullable = true)))
}

/** Index: the driver-side length probe (title + natoms, then a line
  * count; frames are natoms + 3 lines). */
final class GroCodec(override val mode: String) extends FrameCodec {
  override def name: String = "gro"
  override def schema: StructType = GroTable.Schema
  override def extensions: Seq[String] = Seq(".gro", ".gro.gz")
  override def perAtom: Set[String] = Set("res_id", "res_name", "atom_name")

  override def index(path: String, frameHi: Long): FrameIndex = {
    val src = XyzLines.open(path)
    try {
      val it = src.getLines()
      if (!it.hasNext) return new FrameIndex(0L, 0)
      it.next() // title
      if (!it.hasNext) return new FrameIndex(0L, 0)
      val nAtoms = it.next().trim.toInt
      if (nAtoms <= 0) throw new IllegalArgumentException(
        s"gro file $path declares $nAtoms atoms")
      var lines = 2L
      while (it.hasNext) { it.next(); lines += 1 }
      new FrameIndex(lines / (nAtoms + 3), nAtoms) {
        override def at(start: Long, end: Long): Any = nAtoms
      }
    } finally src.close()
  }

  override def open(part: FramePartition, need: Set[String],
      atomHi: Int): FrameReader = new GroFrameReader(mode, part)

  override def sink: Option[FrameSink] = Some(GroSink)
}

/** Per frame: a `graft t= <time>` title, the atom count, fixed-width
  * atom lines per the GROMACS spec (atom numbers restart at 1 per
  * frame), then the box line: all nine vector components when any
  * off-diagonal is non-zero, else the three diagonal terms (null
  * components write 0). */
private object GroSink extends FrameSink {
  override def ext: String = ".gro"
  override def required: Seq[String] =
    Seq("frame_id", "res_name", "atom_name", "x", "y", "z")
  override def open(path: String, schema: StructType): Shard =
    new TextShard(path, schema) {
      private val Seq(iResId, iResName, iAtomName, iX, iY, iZ) =
        Seq("res_id", "res_name", "atom_name", "x", "y", "z").map(col)
      private val iBox = Seq("bv1x", "bv1y", "bv1z", "bv2x", "bv2y", "bv2z",
        "bv3x", "bv3y", "bv3z").map(col)

      override def frame(rows: collection.IndexedSeq[InternalRow]): Unit = {
        line(s"graft t= ${time(rows(0))}")
        line(rows.length.toString)
        rows.indices.foreach { k =>
          val r = rows(k)
          out.write(fmt("%5d", int(r, iResId, 1)) +
            fmt("%-5s", r.getUTF8String(iResName).toString.take(5)) +
            fmt("%-5s", r.getUTF8String(iAtomName).toString.take(5)) +
            fmt("%5d", k + 1) + fmt("%8.3f", r.getFloat(iX)) +
            fmt("%8.3f", r.getFloat(iY)) + fmt("%8.3f", r.getFloat(iZ)) + "\n")
        }
        val box = iBox.map(float(rows(0), _, 0f))
        val offDiag = Seq(1, 2, 3, 5, 6, 7).exists(box(_) != 0f)
        val terms = if (offDiag) Seq(0, 4, 8, 1, 2, 3, 5, 6, 7) else Seq(0, 4, 8)
        line(terms.map(i => fmt("%10.5f", box(i))).mkString)
      }
    }
}

/** Positioned chunk read: skip whole frames before the range, then
  * slurp one frame at a time (atom lines + the trailing box line) into
  * a bounded buffer — the box is only known at frame end, and every row
  * of the frame carries it. Buffer bound = natoms, the same per-chunk
  * bound the reference's read_chunk has (core/dask_traj.py:329-361). */
private final class GroFrameReader(mode: String, part: FramePartition)
    extends TextFrameReader("gro", mode, part,
      part.startFrame * (part.at.asInstanceOf[Int] + 3)) {

  private val n = part.at.asInstanceOf[Int]
  private var time = 0.0
  private val box = new Array[Float](9)
  private val resId = new Array[Int](n)
  private val resName = new Array[String](n)
  private val atomName = new Array[String](n)
  if (dropMalformed) ok = new Array[Boolean](n)

  private val timeRe = """.*\bt=\s*(-?[0-9.eE+-]+).*""".r

  private def intOr(tok: String, fallback: Int): Int =
    try tok.trim.toInt catch { case _: NumberFormatException => fallback }

  /** Parses title + natoms + atom lines + box line of the next frame
    * into the buffers. False at end of range/file. */
  override def next(): Boolean = {
    if (frame + 1 >= part.endFrame || !lines.hasNext) return false
    frame += 1
    val title = lines.next()
    time = title match {
      case timeRe(t) => num(t, "time", title)
      case _ => (frame + part.frameOffset).toDouble
    }
    if (!lines.hasNext) fail("missing natoms line", "")
    lines.next() // natoms (validated at plan time)
    val xs = coords(3 * n)
    var a = 0
    while (a < n) {
      if (!lines.hasNext) fail(s"truncated frame at atom $a", "")
      val line = lines.next()
      try {
        if (line.length < 44)
          fail(s"atom line too short (${line.length} chars, need 44)", line)
        resId(a) = intOr(line.substring(0, 5), 0)
        resName(a) = line.substring(5, 10).trim
        atomName(a) = line.substring(10, 15).trim
        xs(3 * a) = num(line.substring(20, 28), "x", line).toFloat
        xs(3 * a + 1) = num(line.substring(28, 36), "y", line).toFloat
        xs(3 * a + 2) = num(line.substring(36, 44), "z", line).toFloat
        if (ok != null) ok(a) = true
      } catch {
        // ensure_type warn-don't-fail analog: drop the record but keep
        // the fixed frame-line arithmetic intact
        case _: IllegalStateException if dropMalformed =>
          ok(a) = false
          dropped += 1
      }
      a += 1
    }
    if (!lines.hasNext) fail("missing box line", "")
    val boxLine = lines.next()
    val toks = boxLine.trim.split("\\s+").filter(_.nonEmpty)
    java.util.Arrays.fill(box, 0f)
    if (toks.length < 3)
      fail(s"box line has ${toks.length} fields, need >= 3", boxLine)
    // order per GROMACS: v1x v2y v3z [v1y v1z v2x v2z v3x v3y]
    box(0) = num(toks(0), "box v1x", boxLine).toFloat
    box(4) = num(toks(1), "box v2y", boxLine).toFloat
    box(8) = num(toks(2), "box v3z", boxLine).toFloat
    if (toks.length >= 9) {
      box(1) = num(toks(3), "box v1y", boxLine).toFloat
      box(2) = num(toks(4), "box v1z", boxLine).toFloat
      box(3) = num(toks(5), "box v2x", boxLine).toFloat
      box(5) = num(toks(6), "box v2z", boxLine).toFloat
      box(6) = num(toks(7), "box v3x", boxLine).toFloat
      box(7) = num(toks(8), "box v3y", boxLine).toFloat
    }
    nAtoms = n
    true
  }

  override def frameValue(ord: Int): Any = ord match {
    case 1 => time
    case k => box(k - 9)
  }

  override def atomValue(ord: Int, a: Int): Any = ord match {
    case 3 => resId(a)
    case 4 => UTF8String.fromString(resName(a))
    case _ => UTF8String.fromString(atomName(a))
  }
}
