package graft.sources

import java.util

import org.apache.spark.sql.types._

/** DataSourceV2 connector for the AMBER ASCII restart format
  * (`.inpcrd` / `.rst7` / `.restrt`, reference registry
  * `file_returns[".inpcrd"/".restrt"/".rst7"]` = xyz + time +
  * unitcell_lengths + unitcell_angles, core/dask_traj.py:43-45) — the
  * eighth registry format, and the first with ONE FRAME PER FILE: a
  * directory of restart files reads as one trajectory, frame ids
  * assigned by shard name order (the AMBER-idiomatic way of keeping a
  * trajectory as periodic restart snapshots). A single file is a
  * single-frame trajectory.
  *
  * File layout (public AMBER spec): title line; a header line with
  * natoms and optionally the simulation time; coordinates in 6F12.7
  * (six 12-char fields per line, ceil(3N/6) lines); then optionally a
  * velocity block of the same shape, and optionally one final 6F12.7
  * box line (3 lengths + 3 angles). Which optional blocks are present
  * is not declared — it is decidable from the REMAINING LINE COUNT
  * (coords / coords+box / coords+vel / coords+vel+box give four
  * distinct counts) except for natoms ≤ 2, where coords+box and
  * coords+vel collide; the `velocities` option ('auto' default,
  * 'true', 'false') pins the interpretation for that corner.
  *
  * Options: `chunks` (FILES per partition — the per-frame analog of
  * the other sources' frames-per-partition), `unit_scale` (default
  * 0.1: Å → nm), `velocities` (see above), `top` (optional PDB
  * topology — inpcrd carries natoms in each file, so `top` is a
  * cross-check: a restart whose natoms disagrees with the topology's
  * first-model atom count fails with context, the reference's
  * load(..., top=...) shape validation). Velocity blocks are parsed
  * past, not emitted — the reference's column registry for this
  * format carries coordinates only. */
class InpcrdDataSource extends FrameSource("inpcrd", InpcrdTable.Schema) {
  override protected def codec(o: ReadOptions,
      props: util.Map[String, String]): FrameCodec = {
    val vel = Option(props.get("velocities")).map(_.toLowerCase)
      .getOrElse("auto")
    if (!Seq("auto", "true", "false").contains(vel))
      throw new IllegalArgumentException(
        s"inpcrd option 'velocities' must be auto, true or false, got " +
          s"'$vel'")
    new InpcrdCodec(o.unitScale(0.1), vel, o.topAtoms)
  }
}

object InpcrdTable {
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

/** One frame per file. `plan` is overridden: planning needs NO file
  * probe — the frame axis IS the shard list, so frame_id pushdown
  * prunes files before any I/O, and a partition is a run of `chunks`
  * files (its `at`). The index (the `top=` probe, and a recovered
  * stream's predecessor count) reads the header line only. */
final class InpcrdCodec(unitScale: Double, vel: String,
    override val expectAtoms: Int) extends FrameCodec {
  override def name: String = "inpcrd"
  override def schema: StructType = InpcrdTable.Schema
  override def extensions: Seq[String] = Seq(".inpcrd", ".rst7",
    ".restrt", ".inpcrd.gz", ".rst7.gz", ".restrt.gz")

  override def index(path: String, frameHi: Long): FrameIndex = {
    val src = XyzLines.open(path)
    val natoms =
      try {
        val it = src.getLines()
        if (it.hasNext) it.next()
        if (!it.hasNext) InpcrdCodec.bad(path, "truncated restart (no header)")
        InpcrdCodec.natoms(path, it.next())
      } finally src.close()
    new FrameIndex(1L, natoms)
  }

  override def plan(files: Seq[String], base: Long, lo: Long, hi: Long,
      budget: Long, chunks: Int): (Seq[FramePartition], Seq[Long]) = {
    val f0 = math.max(base, lo) - base
    var f1 = math.min(base + files.length, hi) - base
    if (budget != Long.MaxValue) f1 = math.min(f1, f0 + math.max(budget, 1L))
    val parts = if (f0 >= f1) Nil else (f0 until f1 by chunks.toLong).map { s =>
      val e = math.min(s + chunks, f1)
      FramePartition(files(s.toInt), 0L, e - s, base + s,
        files.slice(s.toInt, e.toInt))
    }
    (parts, files.map(_ => 1L))
  }

  override def open(part: FramePartition, need: Set[String],
      atomHi: Int): FrameReader = new InpcrdFrameReader(unitScale, vel, part)
}

private object InpcrdCodec {
  def bad(file: String, what: String): Nothing =
    throw new IllegalStateException(s"inpcrd parse error in $file: $what")

  /** natoms from the header line (natoms [time]). */
  def natoms(file: String, header: String): Int = {
    val tok = header.trim.split("\\s+")(0)
    val n =
      try tok.toInt
      catch { case _: NumberFormatException =>
        bad(file, s"non-integer natoms '$tok'") }
    if (n <= 0) bad(file, s"natoms must be > 0, got $n")
    n
  }
}

/** Reads the partition's files in order, one frame each. Velocity
  * blocks are parsed past, not emitted. */
private final class InpcrdFrameReader(unitScale: Double, vel: String,
    part: FramePartition) extends FrameReader("inpcrd", ParseMode.FailFast, part) {

  private val files = part.at.asInstanceOf[Seq[String]]
  private var time = 0.0
  private var box: Array[Float] = _

  /** 12-char fixed-width slices. */
  private def slice12(line: String, out: Array[Double], from: Int,
      file: String): Int = {
    var i = from
    var c = 0
    while (c < line.length && i < out.length) {
      val tok = line.substring(c, math.min(c + 12, line.length)).trim
      if (tok.nonEmpty) {
        out(i) =
          try tok.toDouble
          catch { case _: NumberFormatException =>
            InpcrdCodec.bad(file, s"non-numeric field '$tok'") }
        i += 1
      }
      c += 12
    }
    i
  }

  override def next(): Boolean = {
    if (frame + 1 >= part.endFrame) return false
    frame += 1
    val p = files(frame.toInt)
    val src = XyzLines.open(p)
    try {
      val all = src.getLines().toArray
      if (all.length < 2) InpcrdCodec.bad(p, "truncated restart (no header)")
      val header = all(1).trim.split("\\s+")
      nAtoms = InpcrdCodec.natoms(p, all(1))
      time =
        if (header.length > 1)
          try header(1).toDouble
          catch { case _: NumberFormatException =>
            InpcrdCodec.bad(p, s"non-numeric time '${header(1)}'") }
        else (part.frameOffset + frame).toDouble
      val coordLines = (3 * nAtoms + 5) / 6
      val rest = all.length - 2
      // decide optional blocks from the line count (see class doc)
      val hasVel = vel match {
        case "true" => true
        case "false" => false
        case _ => rest >= 2 * coordLines
      }
      val hasBox = rest == coordLines + (if (hasVel) coordLines else 0) + 1
      if (rest < coordLines + (if (hasVel) coordLines else 0))
        InpcrdCodec.bad(p, s"expected at least ${coordLines} coordinate " +
          s"line(s)${if (hasVel) " + velocity block" else ""}, found " +
          s"$rest")
      val d = new Array[Double](3 * nAtoms)
      var filled = 0
      var l = 0
      while (l < coordLines) {
        filled = slice12(all(2 + l), d, filled, p)
        l += 1
      }
      if (filled != 3 * nAtoms)
        InpcrdCodec.bad(p, s"frame has $filled coordinates, expected " +
          s"${3 * nAtoms}")
      val xs = coords(3 * nAtoms)
      var i = 0
      while (i < 3 * nAtoms) { xs(i) = (d(i) * unitScale).toFloat; i += 1 }
      box =
        if (hasBox) {
          val b = new Array[Double](6)
          if (slice12(all(all.length - 1), b, 0, p) != 6)
            InpcrdCodec.bad(p, "box line needs 3 lengths + 3 angles")
          Array((b(0) * unitScale).toFloat, (b(1) * unitScale).toFloat,
            (b(2) * unitScale).toFloat,
            b(3).toFloat, b(4).toFloat, b(5).toFloat)
        } else null
    } finally src.close()
    true
  }

  override def frameValue(ord: Int): Any = ord match {
    case 1 => time
    case n => if (box == null) null else box(n - 6)
  }

  override def close(): Unit = ()
}
