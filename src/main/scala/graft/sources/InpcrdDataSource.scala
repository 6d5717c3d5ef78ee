package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

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
class InpcrdDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "inpcrd"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    InpcrdTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val o = new ReadOptions("inpcrd", properties)
    val vel = Option(properties.get("velocities")).map(_.toLowerCase)
      .getOrElse("auto")
    if (!Seq("auto", "true", "false").contains(vel))
      throw new IllegalArgumentException(
        s"inpcrd option 'velocities' must be auto, true or false, got " +
          s"'$vel'")
    val expectAtoms = Option(properties.get("top"))
      .map(PdbTopology.atomCount).getOrElse(-1)
    new InpcrdTable(o.paths, o.chunks, o.unitScale(0.1), vel, expectAtoms)
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

  val Extensions: Seq[String] =
    Seq(".inpcrd", ".rst7", ".restrt", ".inpcrd.gz", ".rst7.gz",
      ".restrt.gz")
}

class InpcrdTable(paths: Seq[String], chunks: Int, unitScale: Double,
    vel: String, expectAtoms: Int = -1) extends Table with SupportsRead {
  override def name(): String = s"inpcrd:${paths.mkString(",")}"
  override def schema(): StructType = InpcrdTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new InpcrdScanBuilder(paths, chunks, unitScale, vel, expectAtoms)
}

class InpcrdScanBuilder(paths: Seq[String], chunks: Int, unitScale: Double,
    vel: String, expectAtoms: Int = -1)
    extends FrameScanBuilder(InpcrdTable.Schema) {
  override def build(): Scan =
    new InpcrdScan(paths, chunks, unitScale, vel, required, frameLo,
      frameHi, limit, expectAtoms)
}

/** A run of consecutive shard FILES; each file is one frame. */
case class InpcrdFileRange(files: Seq[String], firstFrame: Long)
    extends InputPartition

class InpcrdScan(paths: Seq[String], chunks: Int, unitScale: Double,
    vel: String, required: StructType, frameLo: Long, frameHi: Long,
    limit: Int, expectAtoms: Int = -1) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Streaming twin: the (single) path is a directory that restart
    * files appear in (see InpcrdMicroBatchStream). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new InpcrdMicroBatchStream(
      MultiPath.single("inpcrd", paths, "streaming read"),
      chunks, unitScale, required, vel, expectAtoms)

  /** One frame per file: planning needs NO file probe at all — the
    * frame axis IS the shard list, so frame_id pushdown prunes files
    * before any I/O (cheaper than every multi-frame source, which must
    * at least line-count each shard). */
  override def planInputPartitions(): Array[InputPartition] = {
    // files/directories/lists/globs -> one ordered file list; the
    // frame axis IS the file list (see MultiPath)
    val files: Seq[String] =
      MultiPath.expandAll("inpcrd", paths, InpcrdTable.Extensions)
    var lo = math.max(0L, frameLo)
    var hi = math.min(files.length.toLong, frameHi)
    if (limit >= 0) hi = math.min(hi, lo + math.max(limit, 1))
    if (lo >= hi) return Array.empty
    files.slice(lo.toInt, hi.toInt)
      .grouped(chunks)
      .zipWithIndex
      .map { case (group, gi) =>
        InpcrdFileRange(group, lo + gi.toLong * chunks): InputPartition
      }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new InpcrdReaderFactory(unitScale, vel, required, expectAtoms)
}

class InpcrdReaderFactory(unitScale: Double, vel: String,
    required: StructType, expectAtoms: Int = -1)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new InpcrdPartitionReader(unitScale, vel,
      required, partition.asInstanceOf[InpcrdFileRange], expectAtoms)
}

class InpcrdPartitionReader(unitScale: Double, vel: String,
    required: StructType, range: InpcrdFileRange, expectAtoms: Int = -1)
    extends PartitionReader[InternalRow] {

  private val ordinals: Array[Int] = {
    val canon = InpcrdTable.Schema.fieldNames.zipWithIndex.toMap
    required.fieldNames.map(canon)
  }

  private var fileIdx = 0
  private var atom = 0
  private var natoms = 0
  private var time = 0.0
  private var coords: Array[Double] = _
  private var box: Array[Float] = _
  private var current: InternalRow = _

  private def parseFail(file: String, what: String): Nothing =
    throw new IllegalStateException(
      s"inpcrd parse error in $file: $what")

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
            parseFail(file, s"non-numeric field '$tok'") }
        i += 1
      }
      c += 12
    }
    i
  }

  private def loadFile(p: String): Unit = {
    val src = XyzLines.open(p)
    try {
      val all = src.getLines().toArray
      if (all.length < 2) parseFail(p, "truncated restart (no header)")
      val header = all(1).trim.split("\\s+")
      natoms =
        try header(0).toInt
        catch { case _: NumberFormatException =>
          parseFail(p, s"non-integer natoms '${header(0)}'") }
      if (natoms <= 0) parseFail(p, s"natoms must be > 0, got $natoms")
      if (expectAtoms > 0 && natoms != expectAtoms)
        parseFail(p, s"natoms $natoms disagrees with the topology " +
          s"atom count $expectAtoms (option 'top')")
      time =
        if (header.length > 1)
          try header(1).toDouble
          catch { case _: NumberFormatException =>
            parseFail(p, s"non-numeric time '${header(1)}'") }
        else (range.firstFrame + fileIdx).toDouble
      val coordLines = (3 * natoms + 5) / 6
      val rest = all.length - 2
      // decide optional blocks from the line count (see class doc)
      val hasVel = vel match {
        case "true" => true
        case "false" => false
        case _ => rest >= 2 * coordLines
      }
      val hasBox = rest == coordLines + (if (hasVel) coordLines else 0) + 1
      if (rest < coordLines + (if (hasVel) coordLines else 0))
        parseFail(p, s"expected at least ${coordLines} coordinate " +
          s"line(s)${if (hasVel) " + velocity block" else ""}, found " +
          s"$rest")
      coords = new Array[Double](3 * natoms)
      var filled = 0
      var l = 0
      while (l < coordLines) {
        filled = slice12(all(2 + l), coords, filled, p)
        l += 1
      }
      if (filled != 3 * natoms)
        parseFail(p, s"frame has $filled coordinates, expected " +
          s"${3 * natoms}")
      box =
        if (hasBox) {
          val b = new Array[Double](6)
          if (slice12(all(all.length - 1), b, 0, p) != 6)
            parseFail(p, "box line needs 3 lengths + 3 angles")
          Array((b(0) * unitScale).toFloat, (b(1) * unitScale).toFloat,
            (b(2) * unitScale).toFloat,
            b(3).toFloat, b(4).toFloat, b(5).toFloat)
        } else null
      atom = 0
    } finally src.close()
  }

  override def next(): Boolean = {
    // advance to the next unread file when none is loaded or the
    // current one is exhausted (one frame per file)
    while (coords == null || atom >= natoms) {
      if (coords != null) fileIdx += 1
      if (fileIdx >= range.files.length) return false
      loadFile(range.files(fileIdx))
    }
    {
      val a = atom
      val row = new Array[Any](ordinals.length)
      var i = 0
      while (i < ordinals.length) {
        row(i) = ordinals(i) match {
          case 0 => range.firstFrame + fileIdx
          case 1 => time
          case 2 => a
          case 3 => (coords(3 * a) * unitScale).toFloat
          case 4 => (coords(3 * a + 1) * unitScale).toFloat
          case 5 => (coords(3 * a + 2) * unitScale).toFloat
          case k => if (box == null) null else box(k - 6)
        }
        i += 1
      }
      current = InternalRow.fromSeq(row.toIndexedSeq)
      atom += 1
      true
    }
  }

  override def get(): InternalRow = current

  override def close(): Unit = ()
}
