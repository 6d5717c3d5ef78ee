package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** DataSourceV2 connector for the AMBER ASCII trajectory format
  * (`.crd` / `.mdcrd`, reference registry `file_returns[".crd"]` /
  * `[".mdcrd"]` = xyz + unitcell_lengths with angles assumed 90°,
  * core/dask_traj.py:41-42) — the seventh registry format, and the
  * first whose SHAPE IS NOT IN THE FILE: mdcrd carries no atom count
  * (AMBER readers get it from the prmtop topology), so the `natoms`
  * read option is REQUIRED — the Spark-idiomatic stand-in for the
  * reference's `load(filename, top=...)` topology argument
  * (core/dask_traj.py:61-84).
  *
  * File layout (public AMBER spec): one title line, then per frame
  * 3·natoms coordinates in fixed-width 10F8.3 (ten 8-char fields per
  * line, ceil(3N/10) lines), plus — when `box=true` — one 3F8.3 box-
  * length line after each frame. Fixed width means fields can abut
  * with no separating whitespace, so the parser slices 8-char columns
  * (splitting on spaces mis-parses negative coordinates like
  * `-99.999-100.001`).
  *
  * Options: `natoms` or `top` (one required — `top` names a PDB
  * topology whose first-model atom count supplies natoms; if both are
  * given they must agree), `box` (boolean, default false —
  * whether each frame carries a trailing box-length line; a 3-value
  * box line is indistinguishable from a 3-value final coordinate line,
  * so auto-detection would guess on 3N ≡ 3 mod 10 files), `chunks`,
  * `unit_scale` (default 0.1: AMBER Å → nm, the pdb source's
  * convention), `mode` (shared ParseMode contract). `path` may be a
  * file or a directory of `*.crd` / `*.mdcrd` (+`.gz`) shards.
  */
class MdcrdDataSource extends FrameSource("mdcrd", MdcrdTable.Schema) {
  override protected def codec(o: ReadOptions,
      props: util.Map[String, String]): FrameCodec = {
    // the frame shape is NOT in the file: either `natoms` directly or
    // `top` (a PDB topology, the reference's `load(..., top=...)` idiom
    // — core/dask_traj.py:61,80-83) must supply it; both must agree.
    // Required for SCANS (checked by the index — the write path does
    // not need the atom count).
    val natoms = PdbTopology.resolveNatoms("mdcrd",
      Option(props.get("top")), o.int("natoms", -1))
    val box = Option(props.get("box")).map { v =>
      v.toLowerCase match {
        case "true" => true
        case "false" => false
        case other => throw new IllegalArgumentException(
          s"mdcrd option 'box' must be true or false, got '$other'")
      }
    }.getOrElse(false)
    val mode = o.mode
    new MdcrdCodec(natoms, box, o.unitScale(0.1), mode)
  }
}

object MdcrdTable {
  /** Long layout; box as lengths only (angles are 90 by format
    * definition — `file_returns[".crd"]`'s "Needs to assume angles to
    * be 90"). time is the frame ordinal (mdcrd carries no time). */
  val Schema: StructType = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("time", DoubleType, nullable = false),
    StructField("atom_id", IntegerType, nullable = false),
    StructField("x", FloatType, nullable = false),
    StructField("y", FloatType, nullable = false),
    StructField("z", FloatType, nullable = false),
    StructField("box_a", FloatType, nullable = true),
    StructField("box_b", FloatType, nullable = true),
    StructField("box_c", FloatType, nullable = true)))

  /** ceil(3N/10) coordinate lines + optional box line per frame. */
  def frameLines(natoms: Int, box: Boolean): Int =
    (3 * natoms + 9) / 10 + (if (box) 1 else 0)
}

/** Index: a line count (the shape comes from the natoms option, not
  * the file). */
final class MdcrdCodec(natoms: Int, box: Boolean, unitScale: Double,
    override val mode: String) extends FrameCodec {
  override def name: String = "mdcrd"
  override def schema: StructType = MdcrdTable.Schema
  override def extensions: Seq[String] =
    Seq(".crd", ".mdcrd", ".crd.gz", ".mdcrd.gz")

  override def index(p: String, frameHi: Long): FrameIndex = {
    if (natoms <= 0) throw new IllegalArgumentException(
      "mdcrd needs the atom count: pass option 'natoms' (> 0) or " +
        "option 'top' (a PDB topology file) — the AMBER trajectory " +
        "format does not carry it (readers get it from the topology)")
    val src = XyzLines.open(p)
    try {
      val it = src.getLines()
      if (!it.hasNext) return new FrameIndex(0L, natoms)
      it.next() // title
      var lines = 0L
      while (it.hasNext) { it.next(); lines += 1 }
      new FrameIndex(lines / MdcrdTable.frameLines(natoms, box), natoms)
    } finally src.close()
  }

  override def open(part: FramePartition, need: Set[String],
      atomHi: Int): FrameReader =
    new MdcrdFrameReader(natoms, box, unitScale, mode, part)

  override def sink: Option[FrameSink] = Some(new MdcrdSink(box, unitScale))
}

/** A title line, then per frame 10F8.3 coordinate lines and, with
  * `box=true`, a 3F8.3 box-lengths line (0 for a boxless frame);
  * coordinates and lengths divide by `unit_scale`, so a nm-normalized
  * frame writes back in Å. */
private final class MdcrdSink(box: Boolean, unitScale: Double)
    extends FrameSink {
  override def ext: String = ".mdcrd"
  override def required: Seq[String] = Seq("frame_id", "x", "y", "z")
  override def open(path: String, schema: StructType): Shard =
    new TextShard(path, schema) {
      private val Seq(iX, iY, iZ, iA, iB, iC) =
        Seq("x", "y", "z", "box_a", "box_b", "box_c").map(col)
      line("generated by graft mdcrd writer")

      private def f8(v: Double): String = fmt("%8.3f", v)

      override def frame(rows: collection.IndexedSeq[InternalRow]): Unit = {
        rows.flatMap(r => Seq(iX, iY, iZ).map(r.getFloat(_) / unitScale))
          .grouped(10).foreach(g => line(g.map(f8).mkString))
        if (box) {
          val r0 = rows(0)
          val boxed = present(r0, iA) && present(r0, iB) && present(r0, iC)
          line(Seq(iA, iB, iC).map(i =>
            f8((if (boxed) r0.getFloat(i) else 0.0f) / unitScale)).mkString)
        }
      }
    }
}

/** Positioned chunk read over fixed-width 8-char coordinate columns. */
private final class MdcrdFrameReader(natoms: Int, box: Boolean,
    unitScale: Double, mode: String, part: FramePartition)
    // the title line, then whole frames before the range
    extends TextFrameReader("mdcrd", mode, part,
      1 + part.startFrame * MdcrdTable.frameLines(natoms, box)) {

  private val frameLines = MdcrdTable.frameLines(natoms, box)
  private val buf = new Array[String](frameLines)
  private val values = new Array[Double](3 * natoms)
  private var boxLen: Array[Float] = _

  /** Fixed-width slice: values occupy 8-char columns that may abut
    * with no whitespace. */
  private def sliceLine(line: String, out: Array[Double], from: Int): Int = {
    var i = from
    var c = 0
    while (c < line.length && i < out.length) {
      val tok = line.substring(c, math.min(c + 8, line.length))
      if (tok.trim.nonEmpty) { out(i) = num(tok, "coordinate", line); i += 1 }
      c += 8
    }
    i
  }

  /** Pulls EXACTLY frameLines lines first, then parses — so a
    * malformed frame under DROPMALFORMED skips cleanly without
    * misaligning the stream. */
  override def next(): Boolean = {
    while (frame + 1 < part.endFrame) {
      var l = 0
      while (l < frameLines) {
        if (!lines.hasNext) return false
        buf(l) = lines.next()
        l += 1
      }
      frame += 1
      try {
        var filled = 0
        val coordLines = (3 * natoms + 9) / 10
        var i = 0
        while (i < coordLines) {
          filled = sliceLine(buf(i), values, filled)
          i += 1
        }
        if (filled != 3 * natoms)
          fail(s"frame has $filled coordinates, expected ${3 * natoms}",
            buf(0))
        boxLen =
          if (box) {
            val bl = buf(frameLines - 1)
            val b = new Array[Double](3)
            if (sliceLine(bl, b, 0) != 3) fail("box line needs 3 lengths", bl)
            b.map(v => (v * unitScale).toFloat)
          } else null
        val xs = coords(3 * natoms)
        i = 0
        while (i < 3 * natoms) { xs(i) = (values(i) * unitScale).toFloat; i += 1 }
        nAtoms = natoms
        return true
      } catch {
        // the frame's full line block was consumed before parsing, so
        // the stream stays aligned — drop and move on
        case _: IllegalStateException if dropMalformed =>
          dropped += natoms
      }
    }
    false
  }

  override def frameValue(ord: Int): Any = ord match {
    case 1 => (frame + part.frameOffset).toDouble
    case k => if (boxLen == null) null else boxLen(k - 6)
  }
}
