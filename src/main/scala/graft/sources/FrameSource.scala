package graft.sources

import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The frame-codec shell every trajectory source shares — the Spark-native form
  * of the reference's one chunk planner (`load_chunks`,
  * core/dask_traj.py:103-140), one positioned chunk reader (`read_chunk`,
  * :329-361) and one registry of what each format yields (`file_returns`,
  * :26-56). A format supplies only a [[FrameCodec]]; the shell owns the
  * rest once:
  *
  *  - [[FrameSource]] / [[FrameTable]]: the provider and table (name,
  *    capabilities, which follow from the codec's sink, and the write
  *    hand-off);
  *  - [[FrameScanBuilder]]: column pruning, `frame_id` and `atom_id`
  *    bounds, the limit row budget;
  *  - [[FrameScan]]: the `top=` atom-count check on every named file,
  *    the multi-file plan with global frame ids, the gathered form
  *    ([[FrameGatherScan]]), parse-mode metrics and the streaming twin
  *    ([[ShardStream]]);
  *  - [[AtomRowReader]]: one `UnsafeRow` per atom straight from the
  *    codec's frame buffer through the pruned ordinals;
  *  - [[GatherReader]]: one `(frame_id, a)` row per frame, no atom row;
  *  - the write half, in FrameWrite.scala: [[FrameWriteBuilder]] and
  *    the one `Write`/`BatchWrite`/`DataWriterFactory`/`DataWriter`
  *    chain, which owns the shard-commit protocol (truncate, the append
  *    check, `part-NNNNN.<ext>` names, attempt-private output renamed
  *    at task commit, frame boundaries on `frame_id`, the
  *    required-column check, abort).
  *
  * The codec contract:
  *  - `name`, `schema`, `extensions` and the options parsed in its
  *    [[FrameSource.codec]] (`unit_scale`, `mode`, `top`, ...);
  *  - `index(path, frameHi)`, driver side: the frame count, the rows
  *    before any frame, and what a partition starting at a frame needs
  *    to seek there ([[FrameIndex]]);
  *  - `open(partition, need, atomHi)`, task side: a [[FrameReader]]
  *    that loads the next frame into one interleaved `Array[Float]` of
  *    3·n coordinates and answers the frame-level and per-atom values
  *    by canonical ordinal. `atomHi` is a hint: the reader may stop a
  *    frame's decode there (XTC does).
  *
  * Planning methods a codec may override where its layout differs:
  * `plan` (inpcrd: one frame per file, partitions are runs of files),
  * `expand` and `isShard` (dtr: framesets are directories listed by
  * `.stk` files), `probeAtoms` (xtc: an 8-byte `top=` probe).
  *
  * The sink contract, for the codecs that take batch writes: `sink`
  * returns a [[FrameSink]] that names the shard extension and the
  * required columns and opens a [[Shard]] at the path the shell gives
  * it; the shard takes one frame's rows at a time and finishes at task
  * commit. A sink may also say which directory entries its scan reads
  * (dtr: frameset directories and `all.stk`) and act once every task
  * committed (dtr writes `all.stk`). */
abstract class FrameCodec extends Serializable {
  def name: String
  def schema: StructType
  def extensions: Seq[String]
  /** The parse mode; FAILFAST for the codecs that take no `mode`. */
  def mode: String = ParseMode.FailFast
  /** The `top=` topology's atom count, or -1 without `top`. */
  def expectAtoms: Int = -1
  /** Non-coordinate per-atom columns (names, velocities); every other
    * column but frame_id, atom_id and x/y/z is frame-level. */
  def perAtom: Set[String] = Set.empty

  def index(path: String, frameHi: Long): FrameIndex
  def open(part: FramePartition, need: Set[String], atomHi: Int): FrameReader

  /** The files (or framesets) `paths` name, in frame order. */
  def expand(paths: Seq[String]): Seq[String] =
    MultiPath.expandAll(name, paths, extensions)

  /** Whether a directory entry is a shard of a streamed directory. */
  def isShard(e: FsIO.Entry): Boolean =
    e.isFile && extensions.exists(e.name.endsWith)

  /** The atom count `top=` is checked against. */
  def probeAtoms(path: String): Int = index(path, 1L).atoms

  /** Partitions for `files`, whose first frame has global id `base`,
    * clipped to the global frame range [lo, hi) and a row budget, with
    * the frame count of each file (-1 for files past the bounds, which
    * are not indexed). */
  def plan(files: Seq[String], base: Long, lo: Long, hi: Long,
      budget: Long, chunks: Int): (Seq[FramePartition], Seq[Long]) = {
    val out = ArrayBuffer.empty[FramePartition]
    val counts = Array.fill(files.length)(-1L)
    var off = base
    var left = budget
    files.indices.foreach { i =>
      if (left > 0 && off < hi) {
        val p = files(i)
        val idx = index(p, if (hi == Long.MaxValue) hi else hi - off)
        counts(i) = idx.frames
        val f0 = math.max(off, lo) - off
        var f1 = math.min(off + idx.frames, hi) - off
        if (f0 < f1 && left != Long.MaxValue && idx.rowsBefore(f1) >= 0) {
          // the first end whose frames hold the budget's rows
          val r0 = idx.rowsBefore(f0)
          if (idx.rowsBefore(f1) - r0 >= left) {
            var a = f0 + 1
            var b = f1
            while (a < b) {
              val m = (a + b) >>> 1
              if (idx.rowsBefore(m) - r0 >= left) b = m else a = m + 1
            }
            f1 = a
          }
          left = math.max(0L, left - (idx.rowsBefore(f1) - r0))
        }
        // a file of 0-atom frames is format-legal but yields no row
        if (f0 < f1 && idx.atoms != 0)
          (f0 until f1 by chunks.toLong).foreach { s =>
            val e = math.min(s + chunks, f1)
            out += FramePartition(p, s, e, off, idx.at(s, e))
          }
        off += idx.frames
      }
    }
    (out.toSeq, counts.toSeq)
  }

  /** The record writer of a codec that takes batch writes ([[FrameSink]]). */
  def sink: Option[FrameSink] = None

  /** `top=` validates EVERY named file, including shards a pushed limit
    * or frame bound prunes from the plan: a disagreeing trailing shard
    * is a corrupt dataset, not something to surface only in the query
    * that happens to read far enough. */
  final def checkTop(files: Seq[String]): Unit =
    if (expectAtoms > 0) files.foreach { p =>
      val n = probeAtoms(p)
      if (n != expectAtoms) throw new IllegalArgumentException(
        s"$name $p: file declares $n atoms, which disagrees with the " +
          s"topology atom count $expectAtoms (option 'top')")
    }
}

/** One file as a codec's driver-side probe sees it: `frames` frames of
  * `atoms` atoms each (-1 when the count varies or is unknown without
  * reading the frames). */
class FrameIndex(val frames: Long, val atoms: Int) {
  /** Rows in frames [0, f), or -1 when unknown (no limit pruning). */
  def rowsBefore(f: Long): Long = if (atoms < 0) -1L else f * atoms
  /** What a partition of frames [start, end) needs to seek there. */
  def at(start: Long, end: Long): Any = null
}

/** Frames [startFrame, endFrame) of `path` (file-local), whose frame 0 has
  * global id `frameOffset`; `at` is the codec's seek state
  * ([[FrameIndex.at]]). */
final case class FramePartition(path: String, startFrame: Long,
    endFrame: Long, frameOffset: Long, at: Any = null) extends InputPartition

/** A codec's task-side frame loop. `next()` loads the next frame: sets
  * `frame` (file-local), `nAtoms` and, when any of x/y/z is needed,
  * `xyz` (interleaved, at least 3·min(nAtoms, atomHi) floats). Under
  * DROPMALFORMED `ok` flags the atoms kept (null: all); `ids` holds
  * atom ids read from the file (null: the 0-based atom ordinal). */
abstract class FrameReader(val codecName: String, val mode: String,
    val part: FramePartition) extends AutoCloseable {
  var frame: Long = part.startFrame - 1
  var nAtoms: Int = 0
  var xyz: Array[Float] = Array.emptyFloatArray
  var ok: Array[Boolean] = null
  var ids: Array[Int] = null
  var dropped = 0L
  var coerced = 0L
  protected val dropMalformed: Boolean = mode == ParseMode.DropMalformed

  def next(): Boolean
  /** The loaded frame's value of the frame-level column at canonical
    * ordinal `ord` (null: NULL). */
  def frameValue(ord: Int): Any
  /** A per-atom non-coordinate column's value (see [[FrameCodec.perAtom]]). */
  def atomValue(ord: Int, atom: Int): Any = null

  protected def fail(what: String, line: String = null): Nothing =
    throw new IllegalStateException(
      s"$codecName parse error in ${part.path} at frame " +
        s"${part.frameOffset + frame}: $what" +
        (if (line == null) "" else s" (line: '${line.take(120)}')"))

  /** A numeric token; under COERCEWARN a convertible-but-mistyped one
    * is accepted and counted. */
  protected def num(tok: String, what: String, line: String): Double =
    try tok.trim.toDouble catch {
      case _: NumberFormatException =>
        if (mode == ParseMode.CoerceWarn) ParseMode.coerce(tok) match {
          case Some(v) => coerced += 1; v
          case None => fail(s"non-numeric $what '${tok.trim}'", line)
        } else fail(s"non-numeric $what '${tok.trim}'", line)
    }

  /** The coordinate buffer, grown (contents kept) to at least `n`
    * floats. */
  protected def coords(n: Int): Array[Float] = {
    if (xyz.length < n)
      xyz = java.util.Arrays.copyOf(xyz, math.max(n, 2 * xyz.length))
    xyz
  }
}

/** The provider half: a format names itself and parses its options into
  * a codec. */
abstract class FrameSource(name: String, schema: StructType)
    extends TableProvider with DataSourceRegister {
  override def shortName(): String = name
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    schema
  override def getTable(s: StructType, partitioning: Array[Transform],
      props: util.Map[String, String]): Table = {
    val o = new ReadOptions(name, props)
    new FrameTable(codec(o, props), o.paths, o.chunks)
  }
  protected def codec(o: ReadOptions, props: util.Map[String, String]): FrameCodec
}

class FrameTable(codec: FrameCodec, paths: Seq[String], chunks: Int)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"${codec.name}:${paths.mkString(",")}"
  override def schema(): StructType = codec.schema
  // batch reads take files/directories/lists/globs; streaming reads and
  // writes take a SINGLE directory of immutable shard files
  override def capabilities(): util.Set[TableCapability] =
    if (codec.sink.isDefined)
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FrameScanBuilder(codec, paths, chunks)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    codec.sink match {
      case Some(sink) => new FrameWriteBuilder(codec, sink,
        MultiPath.single(codec.name, paths, "write"), info)
      case None => throw new UnsupportedOperationException(
        s"${codec.name} does not support writes")
    }
}

/** Column pruning, the `frame_id` range, the `atom_id` bounds and a
  * partial limit.
  *
  * `frame_id` predicates only SHRINK the planned range `[frameLo,
  * frameHi)`, pruning partitions and, where the format allows, index
  * walks or file bytes. `atom_id` predicates (`<`, `<=`, `=`, `>`, `>=`,
  * `IN`) bound the atoms each frame emits, and a codec may stop its
  * decode at the upper bound. Every filter is returned as a residual,
  * so Spark re-applies it exactly after the scan. The pushed limit is a
  * row budget for planning only: Spark keeps its own Limit above the
  * scan. */
class FrameScanBuilder(codec: FrameCodec, paths: Seq[String], chunks: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit {
  private var required: StructType = codec.schema
  private var frameLo: Long = 0L
  private var frameHi: Long = Long.MaxValue // exclusive
  private var atomLo: Int = 0
  private var atomHi: Int = Int.MaxValue // exclusive
  private var limit: Int = -1
  private var pushed: Array[Filter] = Array.empty

  // keeps pruning even when the requested set is empty (count(*))
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** `v + 1`, saturating at Long.MaxValue: `frame_id <= Long.MaxValue`
    * is no bound at all, not an empty range. */
  private def after(v: Long): Long = if (v == Long.MaxValue) v else v + 1

  private def atom(v: Long): Int =
    math.max(0L, math.min(v, Int.MaxValue.toLong)).toInt

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("frame_id", v: Long) =>
        frameLo = math.max(frameLo, v); frameHi = math.min(frameHi, after(v))
        true
      case GreaterThan("frame_id", v: Long) =>
        frameLo = math.max(frameLo, after(v)); true
      case GreaterThanOrEqual("frame_id", v: Long) =>
        frameLo = math.max(frameLo, v); true
      case LessThan("frame_id", v: Long) =>
        frameHi = math.min(frameHi, v); true
      case LessThanOrEqual("frame_id", v: Long) =>
        frameHi = math.min(frameHi, after(v)); true
      case EqualTo("atom_id", v: Int) =>
        atomLo = math.max(atomLo, atom(v))
        atomHi = math.min(atomHi, atom(v + 1L)); true
      case GreaterThan("atom_id", v: Int) =>
        atomLo = math.max(atomLo, atom(v + 1L)); true
      case GreaterThanOrEqual("atom_id", v: Int) =>
        atomLo = math.max(atomLo, atom(v)); true
      case LessThan("atom_id", v: Int) =>
        atomHi = math.min(atomHi, atom(v)); true
      case LessThanOrEqual("atom_id", v: Int) =>
        atomHi = math.min(atomHi, atom(v + 1L)); true
      case In("atom_id", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Int]) =>
        val ids = vs.map(_.asInstanceOf[Int])
        atomLo = math.max(atomLo, atom(ids.min))
        atomHi = math.min(atomHi, atom(ids.max + 1L)); true
      case _ => false
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(l: Int): Boolean = { limit = l; false }

  override def build(): Scan =
    new FrameScan(codec, paths, chunks, required, frameLo, frameHi, limit,
      atomLo, atomHi, pushed.toSeq)
}

/** A frame source scan whose partitions are frame-aligned, so it can
  * gather each frame's atoms itself instead of emitting atom rows for a
  * shuffle to regroup.
  *
  * Contract: every frame lives in exactly one input partition.
  * [[FrameGather]] relies on it to plan
  * `groupBy(frame_id).agg(sort_array(collect_list(struct(atom_id,
  * …))))` over such a scan as [[gathered]]. */
trait FrameGatherScan extends Scan {
  /** This scan, emitting one row per frame: `(frame_id, a)`, where `a`
    * is the frame's atoms within the pushed `atom_id` bounds, in
    * ascending `struct(atom_id, fields…)` order, as non-null
    * `struct<atom_id: int, fields…: float>` elements. `fields` name
    * coordinate columns (x, y, z). A frame with no atom in bounds
    * emits no row, as `groupBy` makes no group for it. */
  def gathered(fields: Seq[String]): Scan
}

class FrameScan(codec: FrameCodec, paths: Seq[String], chunks: Int,
    required: StructType, frameLo: Long, frameHi: Long, limit: Int,
    atomLo: Int, atomHi: Int, pushed: Seq[Filter],
    gather: Option[Seq[String]] = None)
    extends FrameGatherScan with Batch {
  override def readSchema(): StructType = gather match {
    case Some(fs) => StructType(Seq(
      StructField("frame_id", LongType, nullable = false),
      StructField("a", ArrayType(StructType(("atom_id" +: fs).map(f =>
        StructField(f, codec.schema(f).dataType, nullable = false))),
        containsNull = false), nullable = false)))
    case None => required
  }
  override def toBatch: Batch = this
  override def description(): String =
    codec.name.capitalize + "Scan" +
      gather.fold("")(fs => fs.mkString(" gathered(atom_id, ", ", ", ")")) +
      s" PushedFilters: ${pushed.mkString("[", ", ", "]")}"

  override def gathered(fields: Seq[String]): Scan =
    new FrameScan(codec, paths, chunks, required, frameLo, frameHi, limit,
      atomLo, atomHi, pushed, Some(fields))

  /** The (single) path is a directory that shards appear in. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ShardStream(codec, MultiPath.single(codec.name, paths,
      "streaming read"), chunks, required)

  override def planInputPartitions(): Array[InputPartition] = {
    val files = codec.expand(paths)
    codec.checkTop(files)
    // dropped records make the row count unknowable at plan time
    val budget =
      if (limit >= 0 && codec.mode != ParseMode.DropMalformed) limit.toLong
      else Long.MaxValue
    codec.plan(files, 0L, frameLo, frameHi, budget, chunks)._1.toArray
  }

  override def supportedCustomMetrics(): Array[CustomMetric] =
    ParseMode.scanMetrics

  override def createReaderFactory(): PartitionReaderFactory =
    new FrameReaderFactory(codec, required, atomLo, atomHi, gather)
}

class FrameReaderFactory(codec: FrameCodec, required: StructType,
    atomLo: Int, atomHi: Int, gather: Option[Seq[String]])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[FramePartition]
    gather match {
      case Some(fs) => new GatherReader(codec, part, fs, atomLo, atomHi)
      case None => new AtomRowReader(codec, part, required, atomLo, atomHi)
    }
  }
}

/** Parse-mode accounting every shell reader reports: the scan metrics
  * and the dropped/coerced warnings on close. */
private[sources] abstract class ShellReader(codec: FrameCodec,
    part: FramePartition, need: Set[String], atomHi: Int)
    extends PartitionReader[InternalRow] {
  protected val r: FrameReader = codec.open(part, need, atomHi)

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    ParseMode.taskMetrics(r.dropped, r.coerced)

  override def close(): Unit = {
    ParseMode.warnDropped(codec.name, part.path, r.dropped)
    ParseMode.warnCoerced(codec.name, part.path, r.coerced)
    r.close()
  }
}

/** One `UnsafeRow` per emitted atom, written from the frame buffer
  * through the pruned ordinals. Frame-level values are read once per
  * frame; x/y/z, frame_id and atom_id are array reads. Atoms outside the
  * pushed `atom_id` bounds, or dropped under DROPMALFORMED, emit no
  * row. */
private[sources] final class AtomRowReader(codec: FrameCodec,
    part: FramePartition, required: StructType, atomLo: Int, atomHi: Int)
    extends ShellReader(codec, part, required.fieldNames.toSet, atomHi) {

  private val names = required.fieldNames
  private val ords = names.map(codec.schema.fieldIndex)
  // 0 frame_id, 1 atom_id, 2-4 x/y/z, 5 frame-level, 6 per-atom
  private val kinds: Array[Int] = names.map {
    case "frame_id" => 0
    case "atom_id" => 1
    case "x" => 2
    case "y" => 3
    case "z" => 4
    case n => if (codec.perAtom(n)) 6 else 5
  }
  // 0 long, 1 double, 2 float, 3 int, 4 string
  private val types: Array[Int] = required.fields.map(_.dataType match {
    case LongType => 0
    case DoubleType => 1
    case FloatType => 2
    case IntegerType => 3
    case StringType => 4
    case t => throw new IllegalStateException(s"unsupported column type $t")
  })
  private val frameVals = new Array[Any](names.length)
  private val w = new UnsafeRowWriter(names.length)

  private var frameId = 0L
  private var xyz: Array[Float] = _
  private var ok: Array[Boolean] = _
  private var ids: Array[Int] = _
  private var a = 0
  private var end = 0

  private def loadFrame(): Unit = {
    xyz = r.xyz; ok = r.ok; ids = r.ids
    if (ids == null) { end = math.min(r.nAtoms, atomHi); a = math.min(atomLo, end) }
    else { end = r.nAtoms; a = 0 }
    frameId = part.frameOffset + r.frame
    var j = 0
    while (j < kinds.length) {
      if (kinds(j) == 5) frameVals(j) = r.frameValue(ords(j))
      j += 1
    }
  }

  private def put(j: Int, v: Any): Unit =
    if (v == null) w.setNullAt(j)
    else types(j) match {
      case 0 => w.write(j, v.asInstanceOf[Long])
      case 1 => w.write(j, v.asInstanceOf[Double])
      case 2 => w.write(j, v.asInstanceOf[Float])
      case 3 => w.write(j, v.asInstanceOf[Int])
      case _ => w.write(j, v.asInstanceOf[UTF8String])
    }

  private def write(i: Int): Unit = {
    w.reset()
    w.zeroOutNullBytes()
    var j = 0
    while (j < kinds.length) {
      kinds(j) match {
        case 0 => w.write(j, frameId)
        case 1 => w.write(j, if (ids == null) i else ids(i))
        case 2 => w.write(j, xyz(3 * i))
        case 3 => w.write(j, xyz(3 * i + 1))
        case 4 => w.write(j, xyz(3 * i + 2))
        case 5 => put(j, frameVals(j))
        case _ => put(j, r.atomValue(ords(j), i))
      }
      j += 1
    }
  }

  override def next(): Boolean = {
    while (true) {
      while (a < end) {
        val i = a
        a += 1
        if ((ok == null || ok(i)) &&
            (ids == null || (ids(i) >= atomLo && ids(i) < atomHi))) {
          write(i)
          return true
        }
      }
      if (!r.next()) return false
      loadFrame()
    }
    false // unreachable
  }

  override def get(): InternalRow = w.getRow
}

/** [[FrameGatherScan.gathered]]'s reader: one row per frame with at least
  * one atom in bounds, its `a` array written straight from the frame
  * buffer into an UnsafeRow; no atom row is built. Atoms keep file order
  * when their ids are ordinals; ids read from the file (lammpstrj, arc)
  * are sorted as `sort_array` sorts the structs. */
private[sources] final class GatherReader(codec: FrameCodec,
    part: FramePartition, fields: Seq[String], atomLo: Int, atomHi: Int)
    extends ShellReader(codec, part, Set("frame_id", "atom_id") ++ fields,
      atomHi) {

  // offset of each field within an atom's (x, y, z) triple
  private val offsets = fields.map(f => "xyz".indexOf(f)).toArray
  private val rowWriter = new UnsafeRowWriter(2)
  private val arrayWriter = new UnsafeArrayWriter(rowWriter, 8)
  private val atomWriter = new UnsafeRowWriter(arrayWriter, 1 + offsets.length)
  private var sel = Array.emptyIntArray

  /** Starts a frame's row holding `n` atoms; returns the array's start. */
  private def start(n: Int): Int = {
    rowWriter.reset()
    rowWriter.zeroOutNullBytes()
    rowWriter.write(0, part.frameOffset + r.frame)
    val arrayStart = rowWriter.cursor()
    arrayWriter.initialize(n)
    arrayStart
  }

  private def atom(k: Int, id: Int, i: Int, xs: Array[Float]): Unit = {
    val atomStart = arrayWriter.cursor()
    atomWriter.resetRowWriter()
    atomWriter.write(0, id)
    var j = 0
    while (j < offsets.length) {
      atomWriter.write(j + 1, xs(3 * i + offsets(j))); j += 1
    }
    arrayWriter.setOffsetAndSizeFromPreviousCursor(k, atomStart)
  }

  /** Spark's float order: NaN last and equal to itself, -0.0 == 0.0. */
  private def cmp(x: Float, y: Float): Int =
    if (x < y) -1 else if (x > y) 1 else if (x == y) 0
    else java.lang.Boolean.compare(x.isNaN, y.isNaN)

  /** The kept atoms in bounds, in `struct(atom_id, fields…)` order. */
  private def select(): Int = {
    val n = r.nAtoms
    val ok = r.ok
    val ids = r.ids
    if (sel.length < n) sel = new Array[Int](n)
    var c = 0
    var i = 0
    while (i < n) {
      val id = if (ids == null) i else ids(i)
      if ((ok == null || ok(i)) && id >= atomLo && id < atomHi) {
        sel(c) = i; c += 1
      }
      i += 1
    }
    if (ids != null && c > 1) {
      val xs = r.xyz
      val sorted = sel.take(c).sortWith { (p, q) =>
        var o = Integer.compare(ids(p), ids(q))
        var j = 0
        while (o == 0 && j < offsets.length) {
          o = cmp(xs(3 * p + offsets(j)), xs(3 * q + offsets(j))); j += 1
        }
        o < 0
      }
      System.arraycopy(sorted, 0, sel, 0, c)
    }
    c
  }

  override def next(): Boolean = {
    while (r.next()) {
      val xs = r.xyz
      if (r.ids == null && r.ok == null) {
        val end = math.min(r.nAtoms, atomHi)
        val lo = math.min(atomLo, end)
        if (lo < end) {
          val arrayStart = start(end - lo)
          var i = lo
          while (i < end) { atom(i - lo, i, i, xs); i += 1 }
          rowWriter.setOffsetAndSizeFromPreviousCursor(1, arrayStart)
          return true
        }
      } else {
        val c = select()
        if (c > 0) {
          val arrayStart = start(c)
          val ids = r.ids
          var k = 0
          while (k < c) {
            val i = sel(k)
            atom(k, if (ids == null) i else ids(i), i, xs); k += 1
          }
          rowWriter.setOffsetAndSizeFromPreviousCursor(1, arrayStart)
          return true
        }
      }
    }
    false
  }

  override def get(): InternalRow = rowWriter.getRow
}

/** The read options every trajectory source parses the same way.
  * Construction resolves the paths ([[MultiPath]]) and validates
  * `chunks` (an integer > 0, default 10). Errors name the format and
  * the option key. */
final class ReadOptions(format: String, props: util.Map[String, String]) {
  val paths: Seq[String] = MultiPath.rawPaths(format, props)
  val chunks: Int = int("chunks", 10)
  if (chunks <= 0) throw new IllegalArgumentException(
    s"$format option 'chunks' must be > 0, got $chunks")

  /** `unit_scale`, for the formats that take it: 0.1 for Å files (to
    * nm), 1.0 for files already in their convention's units. */
  def unitScale(default: Double): Double =
    ReadOptions.parsed(format, props, "unit_scale", "numeric", default)(_.toDouble)

  def int(key: String, default: Int): Int =
    ReadOptions.parsed(format, props, key, "an integer", default)(_.toInt)

  /** The parse mode, for the formats that take `mode`. */
  def mode: String = ParseMode.fromOptions(format, props)

  /** The `top=` topology's first-model atom count, or -1. */
  def topAtoms: Int =
    Option(props.get("top")).map(PdbTopology.atomCount).getOrElse(-1)
}

object ReadOptions {
  private def parsed[T](format: String, props: util.Map[String, String],
      key: String, what: String, default: T)(f: String => T): T =
    Option(props.get(key)).map { v =>
      try f(v) catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$format option '$key' must be $what, got '$v'")
      }
    }.getOrElse(default)
}

/** Malformed-record handling shared by the trajectory sources — the
  * Spark-idiomatic form of the reference's `ensure_type` contract
  * (utils/validation.py:89-101: coercible input is accepted with a
  * warning — the warn-and-CAST half at :97-101 — and only truly invalid
  * input raises). Same names and semantics as Spark's CSV/JSON sources
  * where they overlap:
  *  - FAILFAST (default): any malformed record fails the task with
  *    file/frame/line context;
  *  - DROPMALFORMED: malformed records are dropped, counted, and
  *    reported once per partition through the task's logger;
  *  - COERCEWARN: numeric tokens in a convertible-but-wrong lexical
  *    form (Fortran `1.5D0` exponents, comma decimals) are accepted
  *    after coercion, counted, and reported. Tokens that no coercion
  *    rescues still fail like FAILFAST.
  * Both counters also surface as DSv2 custom metrics on every shell
  * scan (`droppedRecords` / `coercedRecords`), so the warn path is
  * observable in the SQL UI and from `executedPlan.metrics`, not only
  * in executor logs. */
private[sources] object ParseMode {
  val FailFast = "FAILFAST"
  val DropMalformed = "DROPMALFORMED"
  val CoerceWarn = "COERCEWARN"

  def fromOptions(fmt: String, properties: java.util.Map[String, String])
      : String =
    Option(properties.get("mode")).map(_.toUpperCase) match {
      case None | Some(FailFast) => FailFast
      case Some(DropMalformed) => DropMalformed
      case Some(CoerceWarn) => CoerceWarn
      case Some(other) => throw new IllegalArgumentException(
        s"$fmt option 'mode' must be FAILFAST, DROPMALFORMED or " +
          s"COERCEWARN, got '$other'")
    }

  /** Lexical coercions for convertible-but-mistyped numeric tokens, in
    * priority order: Fortran double-precision exponents (`1.5D0`) and
    * decimal commas (`1,5`). (C-style `1.5f`/`1.5d` suffixes already
    * parse strictly — Java's parseDouble grammar accepts them.) None
    * when no rule yields a number — the caller then fails like
    * FAILFAST. */
  def coerce(tok: String): Option[Double] = {
    val t = tok.trim
    if (t.isEmpty) return None
    val candidates = Seq(
      t.replace('D', 'E').replace('d', 'e'),
      t.replace(',', '.'))
    candidates.iterator
      .flatMap(c => scala.util.Try(c.toDouble).toOption)
      .nextOption()
  }

  def warnDropped(fmt: String, path: String, dropped: Long): Unit =
    if (dropped > 0)
      org.slf4j.LoggerFactory.getLogger(s"graft.sources.$fmt").warn(
        s"$fmt source dropped $dropped malformed record(s) from $path " +
          "(mode=DROPMALFORMED)")

  def warnCoerced(fmt: String, path: String, coerced: Long): Unit =
    if (coerced > 0)
      org.slf4j.LoggerFactory.getLogger(s"graft.sources.$fmt").warn(
        s"$fmt source coerced $coerced mistyped numeric token(s) from " +
          s"$path (mode=COERCEWARN)")

  /** DSv2 scan-level metrics (driver side sums the per-task values). */
  def scanMetrics: Array[CustomMetric] =
    Array(new DroppedRecordsMetric, new CoercedRecordsMetric)

  /** Per-task metric values for a reader's current counters. */
  def taskMetrics(dropped: Long, coerced: Long): Array[CustomTaskMetric] =
    Array(ParseTaskMetric("droppedRecords", dropped),
      ParseTaskMetric("coercedRecords", coerced))
}

private[sources] class DroppedRecordsMetric extends CustomSumMetric {
  override def name(): String = "droppedRecords"
  override def description(): String =
    "malformed records dropped (mode=DROPMALFORMED)"
}

private[sources] class CoercedRecordsMetric extends CustomSumMetric {
  override def name(): String = "coercedRecords"
  override def description(): String =
    "mistyped numeric tokens accepted via coercion (mode=COERCEWARN)"
}

private[sources] case class ParseTaskMetric(metricName: String, v: Long)
    extends CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = v
}
