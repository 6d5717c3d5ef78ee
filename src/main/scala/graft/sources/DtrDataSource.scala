package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Desmond frame-set ("dtr") layout: a trajectory is a DIRECTORY of
  * fixed-layout binary files — a `metadata` header, a `timekeys` index
  * (one record per frame), and numbered `frame%09d` payload files each
  * holding `frames_per_file` consecutive frames — plus the `.stk`
  * convention: a plain-text file listing frameset directories that
  * concatenate into one trajectory. The reference registry lists both
  * extensions (core/dask_traj.py:46-47, via mdtraj's dtr reader, which
  * wraps VMD's public dtrplugin).
  *
  * This source implements the frame-set DESIGN — directory + per-frame
  * index + fixed-size positioned payload files + stk concatenation —
  * with the payload PROFILE documented here (little-endian; optional
  * float64 a,b,c,alpha,beta,gamma box, then natoms×3 float32
  * positions), written and read by this library ([[DtrWrite]]). The
  * full molfile meta-frame payload encoding is not reproducible
  * byte-for-byte in this offline environment, so foreign framesets
  * are rejected rather than misread — by the metadata magic check
  * when the header differs, and by frame-file size arithmetic
  * ([[DtrFormat.checkFileSize]]) when a structurally-valid frameset
  * carries per-frame records that disagree with the declared profile
  * (position-only vs box+positions, or extra payload sections).
  *
  * Why this layout wins at scale (and why Desmond chose it): frames
  * live in fixed-size records inside bounded-size files, so a frame
  * range maps to (file, offset) by pure arithmetic — planning needs
  * ONE small index read per frameset, readers do exact positioned
  * I/O with no scanning, and a 100 TB trajectory is just more
  * framesets in the stk list (each independently parallelizable).
  *
  * Usage: `spark.read.format("dtr").load(path)` where `path` is a
  * `foo.dtr` frameset directory, a `.stk` list file, or a
  * `load(paths: _*)` list of either; frame ids are globally
  * contiguous across framesets in list order. `unit_scale` defaults
  * to 0.1 (Å→nm, the reference's in_units_of convention, as dcd/pdb).
  */
object DtrFormat {
  val MetaMagic = 0x47445452 // "GDTR": this library's payload profile
  val KeysMagic = 0x4b455953 // "KEYS"

  /** The documented blocker for FOREIGN framesets (real Desmond /
    * VMD-molfile dtr directories — reference registry
    * core/dask_traj.py:46-47). Their payload is the molfile
    * "meta-frame" encoding: a prologue with endianness rosetta
    * constants, then typename/label/scalar/field blocks whose typed
    * sections (POSITION float32 ×3N, UNITCELL float64 3×3, energies)
    * locate the coordinates. Decoding it correctly requires
    * byte-layout constants (magics, rosetta values, record shapes)
    * verified against real Desmond fixtures; none can be produced or
    * fetched in this offline environment, and a parser built from an
    * unverified layout would silently mis-decode coordinates — worse
    * than rejection. The frame-set DESIGN (directory + timekeys index
    * + arithmetic (file,offset) addressing + stk concatenation) is
    * fully implemented over this library's own GDTR payload profile;
    * a foreign frameset is detected by its metadata magic and rejected
    * with this context. */
  val ForeignPayloadBlocker: String =
    "this library reads the frame-set layout with its own GDTR " +
      "payload profile; the Desmond/VMD molfile meta-frame payload " +
      "encoding needs byte-layout constants verified against real " +
      "fixtures, which this offline environment cannot provide " +
      "(re-export the trajectory as dcd/trr, or ingest via DtrWrite)"

  case class Meta(nAtoms: Int, hasBox: Boolean)

  /** metadata file: magic, version, natoms, hasBox — 16 bytes LE. */
  def readMeta(dir: String): Meta = {
    val f = FsIO.child(dir, "metadata")
    if (!FsIO.isFile(f)) throw new IllegalArgumentException(
      s"dtr: $dir has no metadata file — not a frameset " +
        "directory")
    val raf = FsIO.openRandom(f)
    try {
      val buf = new Array[Byte](16)
      raf.readFully(buf)
      val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
      val magic = bb.getInt()
      if (magic != MetaMagic) throw new IllegalArgumentException(
        s"dtr: $dir metadata magic 0x${magic.toHexString} is " +
          s"not 0x${MetaMagic.toHexString} — a foreign frameset: " +
          ForeignPayloadBlocker)
      val version = bb.getInt()
      if (version != 1) throw new IllegalArgumentException(
        s"dtr: $dir metadata version $version unsupported")
      val nAtoms = bb.getInt()
      if (nAtoms <= 0) throw new IllegalArgumentException(
        s"dtr: $dir declares $nAtoms atoms")
      // bound so frameBytes (12*nAtoms + 48) stays a valid array size
      // everywhere — a corrupt header fails HERE at plan time, not as
      // a NegativeArraySizeException in an executor
      if (nAtoms > 100_000_000) throw new IllegalArgumentException(
        s"dtr: $dir declares $nAtoms atoms (> 1e8 — corrupt " +
          "metadata, or a payload too large for one frame record)")
      Meta(nAtoms, bb.getInt() != 0)
    } finally raf.close()
  }

  /** timekeys file: magic, framesPerFile, nFrames (long), then one
    * float64 time per frame — the per-frame index. Offsets are NOT
    * stored: the payload is fixed-size, so (file, offset) is
    * arithmetic (the fixed-layout property that makes planning a
    * single bounded read even for billion-frame sets). */
  def readTimekeys(dir: String): (Int, Array[Double]) = {
    val f = FsIO.child(dir, "timekeys")
    if (!FsIO.isFile(f)) throw new IllegalArgumentException(
      s"dtr: $dir has no timekeys file")
    val raf = FsIO.openRandom(f)
    try {
      val head = new Array[Byte](16)
      raf.readFully(head)
      val hb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
      val magic = hb.getInt()
      if (magic != KeysMagic) throw new IllegalArgumentException(
        s"dtr: $dir timekeys magic mismatch")
      val fpf = hb.getInt()
      if (fpf <= 0) throw new IllegalArgumentException(
        s"dtr: $dir frames_per_file $fpf must be > 0")
      val n = hb.getLong()
      // 8*n must fit an array (the per-frameset index is one bounded
      // read; a billion-frame TRAJECTORY is many framesets via stk)
      if (n < 0 || n > 200_000_000L) throw new IllegalArgumentException(
        s"dtr: $dir frame count $n out of range (one " +
          "frameset indexes at most 2e8 frames; split larger " +
          "trajectories across framesets in an stk list)")
      val body = new Array[Byte]((8L * n).toInt)
      raf.readFully(body)
      val bb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
      val times = new Array[Double](n.toInt)
      var i = 0
      while (i < times.length) { times(i) = bb.getDouble(); i += 1 }
      (fpf, times)
    } finally raf.close()
  }

  def frameFileName(idx: Long): String = f"frame$idx%09d"

  def frameBytes(meta: Meta): Long =
    (if (meta.hasBox) 48L else 0L) + 12L * meta.nAtoms

  /** Exact size every frame file must have under the metadata profile:
    * full files hold `fpf` records, the last file holds the remainder.
    * The fixed-record layout makes this pure arithmetic — which is
    * also why it MUST be enforced: the positioned reads trust it, and
    * a payload whose per-frame layout differs from the metadata
    * (position-only records under a hasBox profile, an extra box
    * section under a position-only profile, or a foreign meta-frame
    * encoding) yields a file whose size cannot match, so checking
    * sizes turns every silent-misread case into a fail-fast. */
  def expectedFileBytes(meta: Meta, fpf: Int, nFrames: Long,
      fileIdx: Long): Long = {
    val lastIdx = (nFrames - 1) / fpf
    val inFile = if (fileIdx < lastIdx) fpf.toLong
      else nFrames - lastIdx * fpf
    inFile * frameBytes(meta)
  }

  def checkFileSize(dir: String, meta: Meta, fpf: Int, nFrames: Long,
      fileIdx: Long, actual: Long): Unit = {
    val want = expectedFileBytes(meta, fpf, nFrames, fileIdx)
    if (actual != want) {
      val shape =
        if (actual > want) "larger than the declared per-frame record"
        else "truncated (smaller than the declared per-frame record)"
      throw new IllegalArgumentException(
        s"dtr: $dir/${frameFileName(fileIdx)} is $actual bytes, but " +
          s"the metadata profile (natoms=${meta.nAtoms}, hasBox=" +
          s"${meta.hasBox}, frames_per_file=$fpf, frames=$nFrames) " +
          s"requires exactly $want — the payload is $shape, so " +
          "positioned reads would mis-decode coordinates; refusing " +
          "to read. " + ForeignPayloadBlocker)
    }
  }

  /** Plan-time frameset validation: one stat for the first and last
    * frame files (O(1) per frameset — a mismatched per-frame record
    * size shows up in ANY full file, and truncation shows up in the
    * last). Mid-set files are re-checked exactly, per open, by the
    * executor-side reader, so validation cost never scales with file
    * count at the driver. */
  def validateSetSizes(dir: String, meta: Meta, fpf: Int,
      nFrames: Long): Unit = {
    if (nFrames <= 0) return
    val lastIdx = (nFrames - 1) / fpf
    (0L :: (if (lastIdx != 0L) List(lastIdx) else Nil)).foreach { idx =>
      val f = FsIO.child(dir, frameFileName(idx))
      if (!FsIO.isFile(f)) throw new IllegalArgumentException(
        s"dtr: $dir has $nFrames frames in timekeys but no " +
          s"${frameFileName(idx)} — truncated frameset")
      checkFileSize(dir, meta, fpf, nFrames, idx, FsIO.length(f))
    }
  }

  /** Resolve a raw path to its ordered frameset directories: a
    * directory with a `timekeys` file is one frameset; a `.stk` file
    * lists framesets one per line (blank lines and `#` comments
    * skipped, relative entries resolved against the stk file's
    * parent); any other directory resolves through its `all.stk` (the
    * write path's commit artifact) or its `*.dtr` subdirectories in
    * name order — so a sharded write output reads back with one
    * `load(outDir)`. */
  def framesets(raw: String): Seq[String] = {
    if (raw.exists(c => c == '*' || c == '?' || c == '[' || c == '{')) {
      // framesets are DIRECTORIES, so dtr globs match subdirectories
      // ONLY (MultiPath's file-glob is the symmetric file case; without
      // the isDirectory filter, a glob over a write-path output would
      // match all.stk too and read every frameset twice); trailing
      // segment only, name order, each match recursing through this
      // resolver
      val slash = raw.lastIndexOf('/')
      val (dirPart, namePat) =
        if (slash < 0) (".", raw)
        else (raw.substring(0, slash), raw.substring(slash + 1))
      if (dirPart.exists(c => c == '*' || c == '?' || c == '[' ||
        c == '{')) throw new IllegalArgumentException(
        s"dtr load: glob is only supported in the trailing segment, " +
          s"got '$raw'")
      if (!FsIO.isDirectory(dirPart)) throw new IllegalArgumentException(
        s"dtr load: glob parent '$dirPart' is not a directory")
      // Hadoop glob semantics, same dialect as MultiPath's file globs
      val hits = FsIO.globDirs(dirPart, namePat)
      if (hits.isEmpty) throw new IllegalArgumentException(
        s"dtr load: glob '$raw' matched no framesets")
      hits.flatMap(framesets)
    }
    else if (FsIO.isDirectory(raw)
      && FsIO.isFile(FsIO.child(raw, "timekeys"))) Seq(raw)
    else if (FsIO.isDirectory(raw)
      && FsIO.isFile(FsIO.child(raw, "all.stk")))
      framesets(FsIO.child(raw, "all.stk"))
    else if (FsIO.isDirectory(raw)) {
      val subs = FsIO.list(raw)
        .filter(e => !e.isFile && e.name.endsWith(".dtr"))
        .map(_.path)
      if (subs.isEmpty) throw new IllegalArgumentException(
        s"dtr load: $raw has no timekeys, no all.stk and no .dtr " +
          "subdirectories — not a frameset or frameset collection")
      subs
    }
    else if (FsIO.isFile(raw) && raw.toLowerCase.endsWith(".stk")) {
      val dirs = FsIO.readLines(raw).map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          if (FsIO.isAbsolute(l)) l else FsIO.child(FsIO.parent(raw), l)
        }
      // an entry-less stk is a VALID empty trajectory — the write
      // path commits one for an empty DataFrame, and the round-trip
      // must read back as 0 rows (matching every other source)
      dirs.foreach { d =>
        if (!FsIO.isDirectory(d)) throw new IllegalArgumentException(
          s"dtr: stk entry $d (from $raw) is not a directory")
      }
      dirs
    } else throw new IllegalArgumentException(
      s"dtr load: $raw is neither a frameset directory nor a .stk list")
  }
}

class DtrDataSource extends FrameSource("dtr", DtrTable.Schema) {
  // Å→nm, as dcd/pdb
  override protected def codec(o: ReadOptions,
      props: util.Map[String, String]): FrameCodec =
    new DtrCodec(o.unitScale(0.1))
}

object DtrTable {
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

/** What a partition of one frameset needs: the profile, and its frames'
  * times from the driver index, so the reader never re-reads
  * timekeys. */
final case class DtrAt(nAtoms: Int, hasBox: Boolean, framesPerFile: Int,
    times: Array[Double], setFrames: Long)

/** Framesets are directories: `expand` resolves framesets, `.stk` lists
  * and collections ([[DtrFormat.framesets]]), and a streamed collection's
  * shard is a `*.dtr` directory whose `timekeys` exists — a frameset is
  * complete exactly then (the DSv2 write renames a finished frameset
  * into place, and [[DtrSetWriter]] writes timekeys last). Index: one ~16-byte metadata read, one
  * timekeys read and an O(1) file-size check per frameset. */
final class DtrCodec(unitScale: Double) extends FrameCodec {
  override def name: String = "dtr"
  override def schema: StructType = DtrTable.Schema
  override def extensions: Seq[String] = Seq(".dtr")

  override def expand(paths: Seq[String]): Seq[String] =
    paths.flatMap(DtrFormat.framesets)

  override def isShard(e: FsIO.Entry): Boolean =
    !e.isFile && e.name.endsWith(".dtr") &&
      FsIO.isFile(FsIO.child(e.path, "timekeys"))

  override def index(dir: String, frameHi: Long): FrameIndex = {
    val meta = DtrFormat.readMeta(dir)
    val (fpf, times) = DtrFormat.readTimekeys(dir)
    DtrFormat.validateSetSizes(dir, meta, fpf, times.length.toLong)
    new FrameIndex(times.length, meta.nAtoms) {
      override def at(start: Long, end: Long): Any =
        DtrAt(meta.nAtoms, meta.hasBox, fpf,
          times.slice(start.toInt, end.toInt), times.length.toLong)
    }
  }

  override def open(part: FramePartition, need: Set[String],
      atomHi: Int): FrameReader = new DtrFrameReader(unitScale, part)

  override def sink: Option[FrameSink] = Some(new DtrSink(unitScale))
}

/** Each task writes a `part-NNNNN.dtr` frameset ([[DtrSetWriter]], 256
  * frames per payload file), a complete frameset on its own; a task
  * with no frame writes none. Once every task committed, the driver
  * writes an `all.stk` naming the framesets that hold frames in
  * partition order (header-only for an empty write), so the output
  * reads back as one trajectory. A frame's box lengths (angles 90 when
  * null) and coordinates divide by `unit_scale` (nm → file units),
  * inverting the scan; every frame of a frameset has the atom count
  * and box presence of its first. */
private final class DtrSink(unitScale: Double) extends FrameSink {
  override def ext: String = ".dtr"
  override def required: Seq[String] = Seq("frame_id", "x", "y", "z")

  /** A scan of the directory reads the framesets `all.stk` lists, or
    * else every `.dtr` subdirectory. */
  override def scanned(e: FsIO.Entry, exts: Seq[String]): Boolean =
    e.name == "all.stk" || (!e.isFile && e.name.endsWith(".dtr"))

  override def committed(dir: String, shards: Seq[String]): Unit =
    FsIO.writeString(FsIO.child(dir, "all.stk"),
      ("# graft dtr frameset list" +: shards).mkString("", "\n", "\n"))

  override def open(path: String, schema: StructType): Shard =
    new Shard(schema) {
      private val Seq(iX, iY, iZ, iA, iB, iC, iAl, iBe, iGa) = Seq("x", "y",
        "z", "box_a", "box_b", "box_c", "box_alpha", "box_beta",
        "box_gamma").map(col)
      private val set = new DtrSetWriter(path, 256)

      override def frame(rows: collection.IndexedSeq[InternalRow]): Unit = {
        val r0 = rows(0)
        def scaled(i: Int): Array[Float] =
          rows.map(r => (r.getFloat(i) / unitScale).toFloat).toArray
        val box =
          if (present(r0, iA) && present(r0, iB) && present(r0, iC))
            Some((r0.getFloat(iA) / unitScale, r0.getFloat(iB) / unitScale,
              r0.getFloat(iC) / unitScale, float(r0, iAl, 90f).toDouble,
              float(r0, iBe, 90f).toDouble, float(r0, iGa, 90f).toDouble))
          else None
        set.add(scaled(iX), scaled(iY), scaled(iZ), box, time(r0))
      }
      override def finish(): Unit = set.finish()
      override def close(): Unit = set.close()
    }
}

/** Pure-arithmetic positioned read: frame f lives in file
  * `frame(f / framesPerFile)` at offset `(f % framesPerFile) ×
  * frameBytes` — no scanning, no index on the executor. */
private final class DtrFrameReader(unitScale: Double, part: FramePartition)
    extends FrameReader("dtr", ParseMode.FailFast, part) {

  private val at = part.at.asInstanceOf[DtrAt]
  private val meta = DtrFormat.Meta(at.nAtoms, at.hasBox)
  private val frameBytes = DtrFormat.frameBytes(meta)
  private val buf = new Array[Byte](frameBytes.toInt)

  private var raf: FsRandom = _
  private var openFileIdx = -1L
  private val box = new Array[Float](6)

  override def next(): Boolean = {
    if (frame + 1 >= part.endFrame) return false
    frame += 1
    val fileIdx = frame / at.framesPerFile
    if (fileIdx != openFileIdx) {
      if (raf != null) raf.close()
      val f = FsIO.child(part.path, DtrFormat.frameFileName(fileIdx))
      if (!FsIO.isFile(f)) throw new IllegalStateException(
        s"dtr: ${part.path} is missing ${FsIO.fileName(f)} (frame " +
          s"${frame + part.frameOffset}) — truncated frameset")
      raf = FsIO.openRandom(f)
      // exact per-open size check: the plan validated first/last files
      // in O(1); this closes the mid-set case without driver-side
      // stats scaling with file count (a larger-than-expected file
      // means the payload layout disagrees with the metadata profile
      // and positioned reads would silently mis-decode)
      DtrFormat.checkFileSize(part.path, meta, at.framesPerFile,
        at.setFrames, fileIdx, raf.length())
      openFileIdx = fileIdx
    }
    raf.seek((frame % at.framesPerFile) * frameBytes)
    try raf.readFully(buf)
    catch { case _: java.io.EOFException =>
      throw new IllegalStateException(
        s"dtr: short read in ${part.path} frame " +
          s"${frame + part.frameOffset} — truncated frame file")
    }
    val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    if (at.hasBox) {
      var i = 0
      while (i < 6) {
        val v = bb.getDouble()
        // lengths scale with units, angles do not
        box(i) = (if (i < 3) v * unitScale else v).toFloat
        i += 1
      }
    }
    nAtoms = at.nAtoms
    val xs = coords(3 * nAtoms)
    var i = 0
    while (i < 3 * nAtoms) {
      xs(i) = (bb.getFloat() * unitScale).toFloat
      i += 1
    }
    true
  }

  override def frameValue(ord: Int): Any = ord match {
    case 1 => at.times((frame - part.startFrame).toInt)
    case n => if (at.hasBox) box(n - 6) else null
  }

  override def close(): Unit = if (raf != null) raf.close()
}
