package graft.sources

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector for the PDB text format — the third entry of
  * the per-format schema registry (SURVEY §2.1 S4). The reference lists
  * `.pdb` in its `file_returns` registry (core/dask_traj.py:36-37,
  * unimplemented there) and uses a PDB as its real topology fixture
  * (`dask_traj/tests/test.pdb`, loaded as `top=` for every XTC test):
  * multi-model frames (MODEL/ENDMDL records), per-atom name / residue /
  * chain / ELEMENT columns — the element is what feeds real masses into
  * a topology dimension (geometry/distance.py:319 reads
  * `a.element.mass`), see [[PdbTopology]].
  *
  * Record layout (PDB format v3.3, fixed columns, 1-based):
  *   CRYST1  a(7-15) b(16-24) c(25-33) alpha(34-40) beta(41-47) gamma(48-54)
  *   MODEL   serial(11-14)          — opens a frame (optional: a file
  *                                    with no MODEL records is 1 frame)
  *   ATOM/HETATM  serial(7-11) name(13-16) resName(18-20) chain(22)
  *                resSeq(23-26) x(31-38) y(39-46) z(47-54) element(77-78)
  *   ENDMDL                        — closes the frame
  * Everything else (REMARK, TER, CONECT, ANISOU, …) is skipped.
  *
  * Coordinates are Å in the file and nm in the output — the
  * `unit_scale` option defaults to 0.1, the reference's `in_units_of`
  * nm normalization at scan time (core/dask_traj.py:240-243). The
  * CRYST1 box is reported per row as lengths+angles (the
  * `unitcell_lengths`/`unitcell_angles` column pair, SURVEY §1.1),
  * nullable when the file has no CRYST1 record.
  *
  * Usage: `spark.read.format("pdb").option("chunks", 100).load(path)`.
  * `.pdb.gz` is read transparently (same [[XyzLines]] machinery as xyz
  * and gro).
  */
class PdbDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pdb"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PdbTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val o = new ReadOptions("pdb", properties)
    val mode = ParseMode.fromOptions("pdb", properties)
    // Å → nm, the PDB distance_unit
    new PdbTable(o.paths, o.chunks, o.unitScale(0.1), mode)
  }
}

object PdbTable {
  val Schema: StructType = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("atom_id", IntegerType, nullable = false),
    StructField("serial", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("res_name", StringType, nullable = false),
    StructField("chain", StringType, nullable = false),
    StructField("res_seq", IntegerType, nullable = false),
    StructField("element", StringType, nullable = false),
    StructField("x", FloatType, nullable = false),
    StructField("y", FloatType, nullable = false),
    StructField("z", FloatType, nullable = false),
    // CRYST1 unitcell (lengths nm-scaled, angles degrees); null when absent
    StructField("box_a", FloatType, nullable = true),
    StructField("box_b", FloatType, nullable = true),
    StructField("box_c", FloatType, nullable = true),
    StructField("box_alpha", FloatType, nullable = true),
    StructField("box_beta", FloatType, nullable = true),
    StructField("box_gamma", FloatType, nullable = true)))
}

class PdbTable(paths: Seq[String], chunks: Int, unitScale: Double,
    mode: String = ParseMode.FailFast)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"pdb:${paths.mkString(",")}"
  override def schema(): StructType = PdbTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new PdbScanBuilder(paths, chunks, unitScale, mode)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new PdbWriteBuilder(MultiPath.single("pdb", paths, "write"), info)
}

class PdbScanBuilder(paths: Seq[String], chunks: Int, unitScale: Double,
    mode: String = ParseMode.FailFast)
    extends FrameScanBuilder(PdbTable.Schema) {
  override def build(): Scan =
    new PdbScan(paths, chunks, unitScale, required, mode, frameLo, frameHi)
}

/** One partition = a run of whole models; startLine is the absolute
  * line index of the partition's first MODEL record (0 for the whole
  * body of a MODEL-less file), so the reader seeks by line skip exactly
  * like the xyz/gro positioned reads. */
case class PdbFrameRange(startFrame: Long, endFrame: Long, startLine: Long,
    boxA: Float, boxB: Float, boxC: Float,
    boxAlpha: Float, boxBeta: Float, boxGamma: Float, hasBox: Boolean,
    // startFrame/endFrame are LOCAL to the file; filePath (when
    // non-null) overrides the scan path (directory-of-shards mode) and
    // frameOffset is the global frame id of the file's frame 0
    filePath: String = null, frameOffset: Long = 0L)
    extends InputPartition

class PdbScan(paths: Seq[String], chunks: Int, unitScale: Double,
    required: StructType, mode: String = ParseMode.FailFast,
    frameLo: Long = 0L, frameHi: Long = Long.MaxValue)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Streaming twin (see PdbMicroBatchStream). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new PdbMicroBatchStream(
      MultiPath.single("pdb", paths, "streaming read"),
      chunks, unitScale, required, mode)

  /** Frame count of one file (streaming offset bookkeeping). */
  private[sources] def planFrameCount(p: String): Long = {
    val (starts, _, sawAtom) = probe(p)
    if (sawAtom) starts.length.toLong else 0L
  }

  /** Driver-side probe: one pass records the CRYST1 box and the line
    * index of every MODEL record — PDB frames are delimited, not
    * fixed-length, so the chunk plan carries explicit line offsets
    * (the shape of the reference's load_chunks dict,
    * core/dask_traj.py:103-140, with byte seeks replaced by line
    * seeks). */
  /** Per-file probe: CRYST1 box + the line index of every MODEL record
    * + whether any ATOM exists. */
  private def probe(p: String): (IndexedSeq[Long],
      Option[(Float, Float, Float, Float, Float, Float)], Boolean) = {
    val src = XyzLines.open(p)
    try {
      var box: Option[(Float, Float, Float, Float, Float, Float)] = None
      val modelLines = scala.collection.mutable.ArrayBuffer.empty[Long]
      var sawAtom = false
      var lineNo = 0L
      val it = src.getLines()
      while (it.hasNext) {
        val line = it.next()
        if (line.startsWith("MODEL")) modelLines += lineNo
        else if (line.startsWith("CRYST1") && box.isEmpty) {
          def f(lo: Int, hi: Int, scale: Double): Float = {
            val tok = line.substring(math.min(lo, line.length),
              math.min(hi, line.length)).trim
            try (tok.toDouble * scale).toFloat catch {
              case _: NumberFormatException => throw new IllegalStateException(
                s"pdb parse error in $p: non-numeric CRYST1 field " +
                  s"'$tok' (line: '${line.take(120)}')")
            }
          }
          box = Some((f(6, 15, unitScale), f(15, 24, unitScale),
            f(24, 33, unitScale), f(33, 40, 1.0), f(40, 47, 1.0),
            f(47, 54, 1.0)))
        } else if (line.startsWith("ATOM") || line.startsWith("HETATM")) {
          sawAtom = true
        }
        lineNo += 1
      }
      // a MODEL-less file is one frame starting at line 0
      val starts: IndexedSeq[Long] =
        if (modelLines.isEmpty) IndexedSeq(0L) else modelLines.toIndexedSeq
      (starts, box, sawAtom)
    } finally src.close()
  }

  private def planFile(p: String, starts: IndexedSeq[Long],
      box: Option[(Float, Float, Float, Float, Float, Float)],
      off: Long): Seq[InputPartition] = {
    val (ba, bb, bc, bal, bbe, bga) =
      box.getOrElse((0f, 0f, 0f, 0f, 0f, 0f))
    val lo0 = math.max(off, frameLo) - off
    val hi0 = math.min(off + starts.length, frameHi) - off
    if (lo0 >= hi0) return Nil
    val (lo, hi) = (lo0.toInt, hi0.toInt)
    (lo until hi by chunks).map { s =>
      PdbFrameRange(s.toLong, math.min(s + chunks, hi).toLong,
        starts(s), ba, bb, bc, bal, bbe, bga, box.isDefined, p, off)
        : InputPartition
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // files/directories/lists/globs -> one ordered file list with
    // globally contiguous frame ids (see XyzScan / MultiPath);
    // ATOM-less files contribute no frames
    val files = MultiPath.expandAll("pdb", paths, Seq(".pdb", ".pdb.gz"))
    val out = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    var off = 0L
    files.foreach { p =>
      if (off < frameHi) {
        val (starts, box, sawAtom) = probe(p)
        if (sawAtom) {
          out ++= planFile(p, starts, box, off)
          off += starts.length
        }
      }
    }
    out.toArray
  }

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    ParseMode.scanMetrics

  override def createReaderFactory(): PartitionReaderFactory =
    new PdbReaderFactory(paths.head, unitScale, required, mode)
}

class PdbReaderFactory(path: String, unitScale: Double,
    required: StructType, mode: String = ParseMode.FailFast)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new PdbPartitionReader(path, unitScale, required,
      partition.asInstanceOf[PdbFrameRange], mode)
}

/** Positioned chunk read: skip to the partition's first MODEL line,
  * then stream ATOM/HETATM records, closing frames at ENDMDL (or EOF
  * for MODEL-less files). */
class PdbPartitionReader(path: String, unitScale: Double,
    required: StructType, range: PdbFrameRange,
    mode: String = ParseMode.FailFast)
    extends PartitionReader[InternalRow] {

  private val dropMalformed = mode == ParseMode.DropMalformed
  private val coerceWarn = mode == ParseMode.CoerceWarn
  private var dropped = 0L
  private var coerced = 0L

  // directory-of-shards partitions carry their own file path
  private val file = if (range.filePath != null) range.filePath else path
  private val src = XyzLines.open(file)
  private val lines = src.getLines()
  (0L until range.startLine).foreach { _ =>
    if (lines.hasNext) lines.next()
  }

  private var frame = range.startFrame
  private var framesDone = false
  private var atomInFrame = 0
  private var current: InternalRow = _

  private val ordinals: Array[Int] = {
    val canon = PdbTable.Schema.fieldNames.zipWithIndex.toMap
    required.fieldNames.map(canon)
  }

  private def parseFail(what: String, content: String): Nothing =
    throw new IllegalStateException(
      s"pdb parse error in $file at frame ${frame + range.frameOffset}: " +
        s"$what (line: '${content.take(120)}')")

  private def slice(line: String, lo: Int, hi: Int): String =
    line.substring(math.min(lo, line.length), math.min(hi, line.length))

  private def numOrFail(tok: String, what: String, line: String): Double =
    try tok.trim.toDouble catch {
      case _: NumberFormatException =>
        // COERCEWARN: accept a convertible-but-mistyped token with a
        // counted warning (ensure_type's warn-and-cast half)
        if (coerceWarn) ParseMode.coerce(tok) match {
          case Some(v) => coerced += 1; v
          case None => parseFail(s"non-numeric $what '${tok.trim}'", line)
        } else parseFail(s"non-numeric $what '${tok.trim}'", line)
    }

  private def intOr(tok: String, fallback: Int): Int =
    try tok.trim.toInt catch { case _: NumberFormatException => fallback }

  /** Element symbol: columns 77-78 when present, else derived from the
    * first alphabetic character of the atom name (the PDB convention
    * for files written without the element field). */
  private def element(line: String, name: String): String = {
    val e = slice(line, 76, 78).trim
    if (e.nonEmpty) e
    else name.find(_.isLetter).map(_.toString.toUpperCase)
      .getOrElse(parseFail(s"cannot derive element from name '$name'", line))
  }

  override def next(): Boolean = {
    if (framesDone) return false
    while (lines.hasNext) {
      val line = lines.next()
      if (line.startsWith("ATOM") || line.startsWith("HETATM")) {
        try {
          if (line.length < 54)
            parseFail(s"atom record too short (${line.length} chars, need 54)",
              line)
          if (dropMalformed) {
            // drop decisions must not depend on column pruning (see
            // XyzPartitionReader): validate coords even when pruned
            numOrFail(slice(line, 30, 38), "x", line)
            numOrFail(slice(line, 38, 46), "y", line)
            numOrFail(slice(line, 46, 54), "z", line)
          }
          val name = slice(line, 12, 16).trim
          val row = new Array[Any](ordinals.length)
          var i = 0
          while (i < ordinals.length) {
            row(i) = ordinals(i) match {
              case 0 => frame + range.frameOffset
              case 1 => atomInFrame
              case 2 => intOr(slice(line, 6, 11), atomInFrame + 1)
              case 3 => UTF8String.fromString(name)
              case 4 => UTF8String.fromString(slice(line, 17, 20).trim)
              case 5 => UTF8String.fromString(slice(line, 21, 22).trim)
              case 6 => intOr(slice(line, 22, 26), 0)
              case 7 => UTF8String.fromString(element(line, name))
              case 8 => (numOrFail(slice(line, 30, 38), "x", line) * unitScale).toFloat
              case 9 => (numOrFail(slice(line, 38, 46), "y", line) * unitScale).toFloat
              case 10 => (numOrFail(slice(line, 46, 54), "z", line) * unitScale).toFloat
              case 11 => if (range.hasBox) range.boxA else null
              case 12 => if (range.hasBox) range.boxB else null
              case 13 => if (range.hasBox) range.boxC else null
              case 14 => if (range.hasBox) range.boxAlpha else null
              case 15 => if (range.hasBox) range.boxBeta else null
              case n => if (range.hasBox) range.boxGamma else null
            }
            i += 1
          }
          current = InternalRow.fromSeq(row.toIndexedSeq)
          atomInFrame += 1
          return true
        } catch {
          // ensure_type warn-don't-fail analog: drop the record, keep
          // the ordinal arithmetic stable
          case _: IllegalStateException if dropMalformed =>
            dropped += 1
            atomInFrame += 1
        }
      } else if (line.startsWith("ENDMDL")) {
        frame += 1
        atomInFrame = 0
        if (frame >= range.endFrame) { framesDone = true; return false }
      }
      // anything else: REMARK/TER/CONECT/CRYST1/MODEL/… — skip
    }
    framesDone = true
    false
  }

  override def get(): InternalRow = current

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    ParseMode.taskMetrics(dropped, coerced)

  override def close(): Unit = {
    ParseMode.warnDropped("pdb", file, dropped)
    ParseMode.warnCoerced("pdb", file, coerced)
    src.close()
  }
}

/** Topology from a PDB scan: the reference builds its topology from the
  * PDB's atom graph and feeds `a.element.mass` into the COM weights
  * (core/dask_traj.py:80-83, geometry/distance.py:319-320). Here the
  * dimension is the distinct atoms of frame 0 joined (broadcast) to the
  * public IUPAC standard atomic weights. */
object PdbTopology {

  /** IUPAC 2021 standard atomic weights (abridged, g/mol) for the
    * elements that occur in biomolecular PDB files. */
  val elementMasses: Map[String, Double] = Map(
    "H" -> 1.008, "D" -> 2.014, "HE" -> 4.003, "LI" -> 6.94,
    "B" -> 10.81, "C" -> 12.011, "N" -> 14.007, "O" -> 15.999,
    "F" -> 18.998, "NA" -> 22.990, "MG" -> 24.305, "AL" -> 26.982,
    "SI" -> 28.085, "P" -> 30.974, "S" -> 32.06, "CL" -> 35.45,
    "K" -> 39.098, "CA" -> 40.078, "MN" -> 54.938, "FE" -> 55.845,
    "CO" -> 58.933, "NI" -> 58.693, "CU" -> 63.546, "ZN" -> 65.38,
    "SE" -> 78.971, "BR" -> 79.904, "I" -> 126.904)

  /** Driver-side atom count of the topology's first model — the shape
    * the reference's `load(filename, top=...)` pulls from a topology
    * file (core/dask_traj.py:61,80-83) for formats that don't carry
    * their own atom count. No Spark job: topologies are small metadata
    * files, read once at plan time (gz-aware, any Hadoop scheme). */
  def atomCount(path: String): Int = {
    val src = XyzLines.open(path)
    try {
      var n = 0
      var done = false
      val it = src.getLines()
      while (!done && it.hasNext) {
        val line = it.next()
        if (line.startsWith("END")) done = true // END or ENDMDL
        else if (n > 0 && line.startsWith("MODEL")) done = true
        else if (line.startsWith("ATOM") || line.startsWith("HETATM"))
          n += 1
      }
      if (n == 0) throw new IllegalArgumentException(
        s"topology '$path' has no ATOM/HETATM records in its first model")
      n
    } finally src.close()
  }

  /** Resolve the atom count for a shape-less format from its `top` /
    * `natoms` options: either alone works; both must agree (the
    * reference raises on a frame/topology shape mismatch —
    * utils/validation.py's ensure_type path). */
  def resolveNatoms(fmt: String, top: Option[String], natoms: Int): Int =
    top match {
      case None => natoms
      case Some(t) =>
        val fromTop = atomCount(t)
        if (natoms > 0 && natoms != fromTop)
          throw new IllegalArgumentException(
            s"$fmt options disagree: natoms=$natoms but topology '$t' " +
              s"has $fromTop atoms")
        fromTop
    }

  /** Atom dimension (atom_id, name, res_name, chain, res_seq, element,
    * mass) from the file's first model — broadcast side of any
    * mass-weighted aggregation over the trajectory, exactly the shape
    * TrajModel.topology has for the synthetic tables. Unknown elements
    * get mass 0 (the reference raises there; a relational engine keeps
    * the row and lets the user filter). */
  def topology(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val masses = elementMasses.toSeq.toDF("m_element", "mass")
    spark.read.format("pdb").load(path)
      .filter(col("frame_id") === 0)
      .select("atom_id", "name", "res_name", "chain", "res_seq", "element")
      .join(broadcast(masses),
        upper(col("element")) === col("m_element"), "left")
      .select(col("atom_id"), col("name"), col("res_name"), col("chain"),
        col("res_seq"), col("element"),
        coalesce(col("mass"), lit(0.0)).as("mass"))
  }
}
