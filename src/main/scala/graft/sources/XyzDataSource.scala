package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.io.Source

/** Line source shared by the xyz readers: transparently decompresses
  * `.xyz.gz` (the reference registers the gzipped variant alongside the
  * plain one — core/dask_traj.py:50-51). Gzip is not splittable, but
  * chunked frame-range partitions still parallelize the PARSE across
  * tasks (each task decompresses its prefix — the same tradeoff Spark's
  * own text sources make for gzip). All opens route through [[FsIO]],
  * so the shards may live on any Hadoop filesystem. */
private[sources] object XyzLines {
  def open(path: String): Source =
    if (path.endsWith(".gz"))
      Source.fromInputStream(new java.util.zip.GZIPInputStream(
        FsIO.openStream(path)))
    else Source.fromInputStream(FsIO.openStream(path))
}

/** A text codec's frame reader over the partition's file as lines,
  * positioned `skip` lines in: text formats seek by skipping the lines
  * of the frames before the range. */
private[sources] abstract class TextFrameReader(codecName: String,
    mode: String, part: FramePartition, skip: Long)
    extends FrameReader(codecName, mode, part) {
  private val src = XyzLines.open(part.path)
  protected val lines: Iterator[String] = src.getLines()
  private var skipped = 0L
  while (skipped < skip && lines.hasNext) { lines.next(); skipped += 1 }

  override def close(): Unit = src.close()
}

/** DataSourceV2 connector for the plain-text XYZ trajectory format —
  * the Spark-native re-expression of the reference's chunked lazy scan
  * (SURVEY §2.1 S1–S5):
  *
  *  - `load` / length probe (core/dask_traj.py:61-100) →
  *    `XyzCodec.index`: probe the frame count once on the driver; the
  *    shell emits one `InputPartition` per `chunks` frames;
  *  - `read_chunk` positioned read (core/dask_traj.py:329-361) →
  *    `XyzFrameReader`: each task skips to its frame range and parses
  *    only its own frames;
  *  - per-extension schema registry (`file_returns`,
  *    core/dask_traj.py:26-56) → static `Table.schema()` — analysis-time
  *    schema, no sample-chunk execution needed (SURVEY §3.1);
  *  - units-on-scan `in_units_of` (core/dask_traj.py:240-243) → the
  *    `unit_scale` read option, applied in the reader;
  *  - column pruning (`SupportsPushDownRequiredColumns`) — the pushdown
  *    the reference lists as TODO (core/dask_traj.py:126, SURVEY O5).
  *
  * File layout per frame: natoms line, comment line
  * (`# Step: N Box: lx ly lz`), then natoms `element x y z` lines.
  * Output is the long layout: one row per (frame, atom).
  *
  * Usage: `spark.read.format("xyz").option("chunks", 100).load(path)`.
  * `path` may be a single file, a DIRECTORY of shard files
  * (`*.xyz` / `*.xyz.gz`), an explicit `load(paths: _*)` list, or a
  * trailing-segment glob (`dir/part-*.xyz`) — files read in order with
  * globally contiguous frame ids (see [[MultiPath]]) — the many-files
  * layout a 100 TB trajectory actually has, and what the write path
  * produces.
  */
class XyzDataSource extends FrameSource("xyz", XyzTable.Schema) {
  override protected def codec(o: ReadOptions,
      props: util.Map[String, String]): FrameCodec =
    new XyzCodec(o.unitScale(1.0), o.mode)
}

object XyzTable {
  /** Long/exploded trajectory schema (SURVEY §1.4): frame axis + atom
    * axis + coords + per-frame box, mirroring
    * file_returns[".xyz"]-style column sets. */
  val Schema: StructType = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("time", DoubleType, nullable = false),
    StructField("atom_id", IntegerType, nullable = false),
    StructField("element", StringType, nullable = false),
    StructField("x", FloatType, nullable = false),
    StructField("y", FloatType, nullable = false),
    StructField("z", FloatType, nullable = false),
    StructField("box_x", FloatType, nullable = true),
    StructField("box_y", FloatType, nullable = true),
    StructField("box_z", FloatType, nullable = true)))
}

/** Index: the driver-side length probe (the analog of opening the file
  * to read `len(f)`, core/dask_traj.py:86) — one line-count pass per
  * file. Frames are `natoms + 2` lines, so a partition seeks by line
  * arithmetic. */
final class XyzCodec(unitScale: Double, override val mode: String)
    extends FrameCodec {
  override def name: String = "xyz"
  override def schema: StructType = XyzTable.Schema
  override def extensions: Seq[String] = Seq(".xyz", ".xyz.gz")
  override def perAtom: Set[String] = Set("element")

  override def index(path: String, frameHi: Long): FrameIndex = {
    val src = XyzLines.open(path)
    try {
      val it = src.getLines()
      if (!it.hasNext) new FrameIndex(0L, 0)
      else {
        val nAtoms = it.next().trim.toInt
        var lines = 1L
        while (it.hasNext) { it.next(); lines += 1 }
        new FrameIndex(lines / (nAtoms + 2), nAtoms) {
          override def at(start: Long, end: Long): Any = nAtoms
        }
      }
    } finally src.close()
  }

  override def open(part: FramePartition, need: Set[String],
      atomHi: Int): FrameReader =
    new XyzFrameReader(unitScale, mode, part, need)

  override def sink: Option[FrameSink] = Some(new XyzSink(unitScale))
}

/** The inverse of the scan: per frame, the atom count, a `# Step: <time>`
  * comment (` Box: x y z` appended when the frame has box lengths),
  * then `element x y z` atom lines. Coordinates and box lengths are
  * divided by the codec's `unit_scale`, so a read at the same scale
  * gives them back. */
private final class XyzSink(unitScale: Double) extends FrameSink {
  override def ext: String = ".xyz"
  override def required: Seq[String] = Seq("frame_id", "element", "x", "y", "z")
  override def open(path: String, schema: StructType): Shard =
    new TextShard(path, schema) {
      private val Seq(iElement, iX, iY, iZ, iBx, iBy, iBz) = Seq("element",
        "x", "y", "z", "box_x", "box_y", "box_z").map(col)

      private def v(r: InternalRow, i: Int): Float =
        (r.getFloat(i) / unitScale).toFloat

      override def frame(rows: collection.IndexedSeq[InternalRow]): Unit = {
        val r0 = rows(0)
        line(rows.length.toString)
        line(s"# Step: ${time(r0)}" +
          (if (present(r0, iBx) && present(r0, iBy) && present(r0, iBz))
            s" Box: ${v(r0, iBx)} ${v(r0, iBy)} ${v(r0, iBz)}"
          else ""))
        rows.foreach { r =>
          out.write(s"${r.getUTF8String(iElement)} ${v(r, iX)} " +
            s"${v(r, iY)} ${v(r, iZ)}\n")
        }
      }
    }
}

/** Positioned chunk read (core/dask_traj.py:329-361): skip to the
  * partition's first frame, parse one frame per `next()`. Coordinates
  * parse only when a coordinate column is read — except under
  * DROPMALFORMED, where drop decisions must not depend on column
  * pruning (the rule Spark's CSV source applies). */
private final class XyzFrameReader(unitScale: Double, mode: String,
    part: FramePartition, need: Set[String])
    extends TextFrameReader("xyz", mode, part,
      part.startFrame * (part.at.asInstanceOf[Int] + 2)) {

  private val n = part.at.asInstanceOf[Int]
  private val axes = Array(need("x"), need("y"), need("z"))
    .map(_ || dropMalformed)
  private val elems = if (need("element")) new Array[String](n) else null
  if (dropMalformed) ok = new Array[Boolean](n)
  private var time = 0.0
  private var box: Array[Float] = _

  private val boxRe =
    """#\s*Step:\s*(\S+)(?:\s+Box:\s*(\S+)\s+(\S+)\s+(\S+))?.*""".r

  override def next(): Boolean = {
    if (frame + 1 >= part.endFrame || !lines.hasNext) return false
    frame += 1
    lines.next() // natoms (validated at plan time)
    val comment = if (lines.hasNext) lines.next() else ""
    try comment match {
      case boxRe(t, bx, by, bz) =>
        time = num(t, "Step token", comment)
        box = if (bx == null) null else Array(
          (num(bx, "Box x", comment) * unitScale).toFloat,
          (num(by, "Box y", comment) * unitScale).toFloat,
          (num(bz, "Box z", comment) * unitScale).toFloat)
      case _ =>
        time = (frame + part.frameOffset).toDouble; box = null
    } catch {
      case _: IllegalStateException if dropMalformed =>
        time = (frame + part.frameOffset).toDouble; box = null
        dropped += 1
    }
    val xs = coords(3 * n)
    var a = 0
    while (a < n && lines.hasNext) {
      val line = lines.next()
      try {
        val parts = line.trim.split("\\s+")
        if (parts.length < 4)
          fail(s"atom line has ${parts.length} fields, need 4", line)
        if (elems != null) elems(a) = parts(0)
        var k = 0
        while (k < 3) {
          if (axes(k)) xs(3 * a + k) =
            (num(parts(k + 1), "xyz".substring(k, k + 1), line) * unitScale).toFloat
          k += 1
        }
        if (ok != null) ok(a) = true
      } catch {
        // drop the record but keep the frame-position arithmetic
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
