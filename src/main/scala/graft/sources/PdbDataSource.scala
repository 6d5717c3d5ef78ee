package graft.sources

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
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
class PdbDataSource extends FrameSource("pdb", PdbTable.Schema) {
  // Å → nm, the PDB distance_unit
  override protected def codec(o: ReadOptions,
      props: util.Map[String, String]): FrameCodec =
    new PdbCodec(o.unitScale(0.1), o.mode)
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

/** A pdb partition's seek state: the absolute line index of its first
  * MODEL record (0 for the whole body of a MODEL-less file) and the
  * file's CRYST1 box (null when absent). */
final case class PdbAt(startLine: Long, box: Array[Float])

/** Index: one pass records the CRYST1 box and the line index of every
  * MODEL record — PDB frames are delimited, not fixed-length, so the
  * chunk plan carries explicit line offsets (the shape of the
  * reference's load_chunks dict, core/dask_traj.py:103-140, with byte
  * seeks replaced by line seeks). Frames may differ in atom count, so
  * no limit budget applies. ATOM-less files contribute no frames. */
final class PdbCodec(unitScale: Double, override val mode: String)
    extends FrameCodec {
  override def name: String = "pdb"
  override def schema: StructType = PdbTable.Schema
  override def extensions: Seq[String] = Seq(".pdb", ".pdb.gz")
  override def perAtom: Set[String] =
    Set("serial", "name", "res_name", "chain", "res_seq", "element")

  override def index(path: String, frameHi: Long): FrameIndex = {
    val src = XyzLines.open(path)
    try {
      var box: Array[Float] = null
      val modelLines = scala.collection.mutable.ArrayBuffer.empty[Long]
      var sawAtom = false
      var lineNo = 0L
      val it = src.getLines()
      while (it.hasNext) {
        val line = it.next()
        if (line.startsWith("MODEL")) modelLines += lineNo
        else if (line.startsWith("CRYST1") && box == null) {
          def f(lo: Int, hi: Int, scale: Double): Float = {
            val tok = line.substring(math.min(lo, line.length),
              math.min(hi, line.length)).trim
            try (tok.toDouble * scale).toFloat catch {
              case _: NumberFormatException => throw new IllegalStateException(
                s"pdb parse error in $path: non-numeric CRYST1 field " +
                  s"'$tok' (line: '${line.take(120)}')")
            }
          }
          box = Array(f(6, 15, unitScale), f(15, 24, unitScale),
            f(24, 33, unitScale), f(33, 40, 1.0), f(40, 47, 1.0),
            f(47, 54, 1.0))
        } else if (line.startsWith("ATOM") || line.startsWith("HETATM")) {
          sawAtom = true
        }
        lineNo += 1
      }
      // a MODEL-less file is one frame starting at line 0
      val starts: IndexedSeq[Long] =
        if (modelLines.isEmpty) IndexedSeq(0L) else modelLines.toIndexedSeq
      new FrameIndex(if (sawAtom) starts.length else 0L, -1) {
        override def at(start: Long, end: Long): Any =
          PdbAt(starts(start.toInt), box)
      }
    } finally src.close()
  }

  override def open(part: FramePartition, need: Set[String],
      atomHi: Int): FrameReader =
    new PdbFrameReader(unitScale, mode, part, need)

  override def sink: Option[FrameSink] = Some(new PdbSink(unitScale))
}

/** PDB v3.3 fixed-column records, exactly the set [[PdbFrameReader]]
  * reads, so read → write → read is the identity on the scan schema:
  * one CRYST1 per shard from its first row's box (when all six box
  * columns are set), then MODEL / ATOM… / ENDMDL per frame.
  * Coordinates and box lengths are stored in Å, divided by the codec's
  * `unit_scale` (default 0.1), so a default-option read recovers the
  * written nm values. */
private final class PdbSink(unitScale: Double) extends FrameSink {
  override def ext: String = ".pdb"
  override def required: Seq[String] =
    Seq("frame_id", "name", "res_name", "x", "y", "z")
  override def open(path: String, schema: StructType): Shard =
    new TextShard(path, schema) {
      private val Seq(iSerial, iName, iResName, iChain, iResSeq, iElement,
        iX, iY, iZ) = Seq("serial", "name", "res_name", "chain", "res_seq",
        "element", "x", "y", "z").map(col)
      private val iBox = Seq("box_a", "box_b", "box_c",
        "box_alpha", "box_beta", "box_gamma").map(col)
      private var models = 0L

      override def frame(rows: collection.IndexedSeq[InternalRow]): Unit = {
        val r0 = rows(0)
        if (models == 0 && iBox.forall(present(r0, _)))
          line("CRYST1" +
            iBox.take(3).map(i => fmt("%9.3f", r0.getFloat(i) / unitScale)).mkString +
            iBox.drop(3).map(i => fmt("%7.2f", r0.getFloat(i))).mkString +
            " P 1           1")
        models += 1
        line(fmt("MODEL     %4d", models))
        rows.indices.foreach { k =>
          val r = rows(k)
          val chain = str(r, iChain, "")
          line("ATOM  " + fmt("%5d", int(r, iSerial, k + 1)) + " " +
            fmt("%-4s", str(r, iName, "").take(4)) + " " +
            fmt("%-3s", str(r, iResName, "").take(3)) + " " +
            (if (chain.isEmpty) "A" else chain.take(1)) +
            fmt("%4d", int(r, iResSeq, 1)) + "    " +
            fmt("%8.3f", r.getFloat(iX) / unitScale) +
            fmt("%8.3f", r.getFloat(iY) / unitScale) +
            fmt("%8.3f", r.getFloat(iZ) / unitScale) +
            "  1.00  0.00          " +
            fmt("%2s", str(r, iElement, "").takeRight(2)))
        }
        line("ENDMDL")
      }
    }
}

/** Positioned chunk read: skip to the partition's first MODEL line,
  * then collect ATOM/HETATM records per frame, closing frames at ENDMDL
  * (or EOF for MODEL-less files). Coordinates parse only when read and
  * the element only when read (deriving it can fail) — except under
  * DROPMALFORMED, which validates the coordinates of every record. */
private final class PdbFrameReader(unitScale: Double, mode: String,
    part: FramePartition, need: Set[String])
    extends TextFrameReader("pdb", mode, part,
      part.at.asInstanceOf[PdbAt].startLine) {

  private val axes = Array(need("x"), need("y"), need("z"))
    .map(_ || dropMalformed)
  private val at = part.at.asInstanceOf[PdbAt]
  private var records = new Array[String](16)
  private var elems = new Array[String](16)
  private var done = false

  private def slice(line: String, lo: Int, hi: Int): String =
    line.substring(math.min(lo, line.length), math.min(hi, line.length))

  private def intOr(tok: String, fallback: Int): Int =
    try tok.trim.toInt catch { case _: NumberFormatException => fallback }

  /** Element symbol: columns 77-78 when present, else derived from the
    * first alphabetic character of the atom name (the PDB convention
    * for files written without the element field). */
  private def element(line: String): String = {
    val e = slice(line, 76, 78).trim
    val name = slice(line, 12, 16).trim
    if (e.nonEmpty) e
    else name.find(_.isLetter).map(_.toString.toUpperCase)
      .getOrElse(fail(s"cannot derive element from name '$name'", line))
  }

  private def atom(a: Int, line: String): Unit = {
    if (a == records.length) {
      records = java.util.Arrays.copyOf(records, 2 * a)
      elems = java.util.Arrays.copyOf(elems, 2 * a)
      if (ok != null) ok = java.util.Arrays.copyOf(ok, 2 * a)
    }
    records(a) = line
    val xs = coords(3 * (a + 1))
    try {
      if (line.length < 54)
        fail(s"atom record too short (${line.length} chars, need 54)", line)
      var k = 0
      while (k < 3) {
        if (axes(k)) xs(3 * a + k) = (num(slice(line, 30 + 8 * k, 38 + 8 * k),
          "xyz".substring(k, k + 1), line) * unitScale).toFloat
        k += 1
      }
      if (need("element")) elems(a) = element(line)
      if (ok != null) ok(a) = true
    } catch {
      // ensure_type warn-don't-fail analog: drop the record, keep the
      // ordinal arithmetic stable
      case _: IllegalStateException if dropMalformed =>
        ok(a) = false
        dropped += 1
    }
  }

  override def next(): Boolean = {
    if (done || frame + 1 >= part.endFrame) return false
    frame += 1
    if (dropMalformed && ok == null) ok = new Array[Boolean](records.length)
    var a = 0
    var closed = false
    while (!closed && lines.hasNext) {
      val line = lines.next()
      if (line.startsWith("ATOM") || line.startsWith("HETATM")) {
        atom(a, line); a += 1
      } else if (line.startsWith("ENDMDL")) closed = true
      // anything else: REMARK/TER/CONECT/CRYST1/MODEL/… — skip
    }
    if (!closed) done = true
    nAtoms = a
    closed || a > 0
  }

  override def frameValue(ord: Int): Any =
    if (at.box == null) null else at.box(ord - 11)

  override def atomValue(ord: Int, a: Int): Any = {
    val line = records(a)
    ord match {
      case 2 => intOr(slice(line, 6, 11), a + 1)
      case 3 => UTF8String.fromString(slice(line, 12, 16).trim)
      case 4 => UTF8String.fromString(slice(line, 17, 20).trim)
      case 5 => UTF8String.fromString(slice(line, 21, 22).trim)
      case 6 => intOr(slice(line, 22, 26), 0)
      case _ => UTF8String.fromString(elems(a))
    }
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
