package graft.sources

import java.nio.ByteBuffer
import java.util

import org.apache.spark.sql.types._

/** One parsed XTC frame: header fields plus the byte extents needed to
  * seek to the next frame without decoding the payload. For compressed
  * frames (natoms > 9) the integer bounds and `smallIdx`/`nBytes` are
  * the decode parameters; `dataStart` is the absolute offset of the
  * compressed bit-stream. */
final case class XtcFrameMeta(
    nAtoms: Int, step: Long, time: Double, box: Array[Float],
    precision: Float, minInt: Array[Int], maxInt: Array[Int],
    smallIdx: Int, nBytes: Int, dataStart: Long, frameEnd: Long)

/** Clean-room implementation of the public GROMACS XTC compressed
  * trajectory format (XDR big-endian; magic 1995). The bit-stream
  * grammar — `sizeofint`/`sizeofints` width selection, MSB-first bit
  * packing, mixed-radix 3-tuple integers, the water-swap run encoding
  * and the `magicints` size ladder — is implemented from the publicly
  * documented format (GROMACS manual; the many independent public
  * readers agree on this grammar). No GPL code is used or linked:
  * everything here is original Scala against the format SPEC, which
  * closes the one reference registry family (`.xtc`,
  * core/dask_traj.py:30) previously scoped out as codec-blocked —
  * the reference's own flagship fixture (`tests/test.xtc`) loads with
  * this reader and is pinned against its mdtraj-written PDB twin in
  * XtcDataSourceSpec.
  *
  * Frame layout: magic, natoms, step, time(float), 3×3 box (nm,
  * row-major floats), then the coordinate block: natoms again, and —
  * for natoms <= 9 — plain uncompressed floats (no precision field),
  * else precision(float), minint[3], maxint[3], smallidx, nbytes, and
  * `nbytes` of compressed data padded to a 4-byte boundary (XDR
  * opaque). Frames are therefore variable-size: planning walks a
  * driver-side index exactly like [[TrrFormat.index]]. */
object XtcFormat {
  val Magic = 1995
  val FirstIdx = 9
  /** Most small-delta atoms one run token can carry (a 5-bit run
    * length, less its mod-3 size-shift residue, over 3 ints per atom). */
  val MaxRun = 10

  /** The format's shared integer-size ladder (≈ 2^(i/3), with the
    * historical deviations every public implementation carries —
    * 5060, 524287, 827487, … — which are part of the wire format: an
    * encoder and decoder must use the SAME table bit-for-bit). */
  val MagicInts: Array[Int] = Array(
    0, 0, 0, 0, 0, 0, 0, 0, 0, 8, 10, 12, 16, 20, 25, 32, 40, 50, 64,
    80, 101, 128, 161, 203, 256, 322, 406, 512, 645, 812, 1024, 1290,
    1625, 2048, 2580, 3250, 4096, 5060, 6501, 8192, 10321, 13003,
    16384, 20642, 26007, 32768, 41285, 52015, 65536, 82570, 104031,
    131072, 165140, 208063, 262144, 330280, 416127, 524287, 660561,
    827487, 1048576, 1321122, 1664510, 2097152, 2642245, 3329021,
    4194304, 5284491, 6658042, 8388607, 10568983, 13316085, 16777216)

  def fail(path: String, frame: Long, what: String): Nothing =
    throw new IllegalArgumentException(
      s"xtc parse error in $path at frame $frame: $what")

  /** Bits needed for an unsigned value in [0, size): the smallest n
    * with 2^n > size - 1 … following the format's convention (which
    * counts `size >= 2^n` as needing n+1 bits). */
  def sizeOfInt(size: Int): Int = {
    var num = 1L
    var bits = 0
    while (size >= num && bits < 32) { bits += 1; num <<= 1 }
    bits
  }

  /** Bits needed for the mixed-radix product of `sizes` — the
    * byte-array multi-precision computation is part of the format
    * (width must match the encoder's exactly, including its rounding
    * to whole bytes past the first). */
  def sizeOfInts(sizes: Array[Int]): Int = {
    val bytes = new Array[Int](32)
    bytes(0) = 1
    var nBytes = 1
    var i = 0
    while (i < sizes.length) {
      var tmp = 0L
      var b = 0
      while (b < nBytes) {
        tmp += bytes(b).toLong * sizes(i)
        bytes(b) = (tmp & 0xff).toInt
        tmp >>= 8
        b += 1
      }
      while (tmp != 0) {
        bytes(nBytes) = (tmp & 0xff).toInt
        tmp >>= 8
        nBytes += 1
      }
      i += 1
    }
    var num = 1
    var bits = 0
    val top = nBytes - 1
    while (bytes(top) >= num) { bits += 1; num *= 2 }
    bits + top * 8
  }

  /** MSB-first bit reader over the compressed blob, mirroring the
    * format's 3-int (cursor, pending-bit-count, pending-bits) state
    * machine. */
  final class BitReader(data: Array[Byte]) {
    private var cnt = 0
    private var lastBits = 0
    private var lastByte = 0 // low `lastBits` bits still unconsumed

    def receiveBits(numOfBits: Int): Int = {
      var nbits = numOfBits
      var num = 0
      val mask = if (numOfBits >= 32) -1 else (1 << numOfBits) - 1
      while (nbits >= 8) {
        lastByte = (lastByte << 8) | (data(cnt) & 0xff); cnt += 1
        num |= (lastByte >>> lastBits) << (nbits - 8)
        nbits -= 8
      }
      if (nbits > 0) {
        if (lastBits < nbits) {
          lastBits += 8
          lastByte = (lastByte << 8) | (data(cnt) & 0xff); cnt += 1
        }
        lastBits -= nbits
        num |= (lastByte >>> lastBits) & ((1 << nbits) - 1)
      }
      num & mask
    }

    /** Reads one mixed-radix packed triple: `width` bits hold
      * ((v0·sizes(1)) + v1)·sizes(2) + v2 as a little-endian byte
      * array (the partial high chunk read last). */
    def receiveInts(width: Int, sizes: Array[Int], out: Array[Int],
        outOff: Int): Unit = {
      val bytes = new Array[Int](32)
      var nbits = width
      var nBytes = 0
      while (nbits > 8) {
        bytes(nBytes) = receiveBits(8); nBytes += 1; nbits -= 8
      }
      if (nbits > 0) {
        bytes(nBytes) = receiveBits(nbits); nBytes += 1
      }
      var i = 2
      while (i > 0) {
        var num = 0L
        var j = nBytes - 1
        while (j >= 0) {
          num = (num << 8) | bytes(j)
          val p = num / sizes(i)
          bytes(j) = p.toInt
          num -= p * sizes(i)
          j -= 1
        }
        out(outOff + i) = num.toInt
        i -= 1
      }
      out(outOff) = bytes(0) | (bytes(1) << 8) | (bytes(2) << 16) |
        (bytes(3) << 24)
    }
  }

  /** MSB-first bit writer emitting the same grammar the reader
    * consumes; used by [[XtcWrite]]. */
  final class BitWriter(capacity: Int) {
    private val out = new java.io.ByteArrayOutputStream(capacity)
    private var lastBits = 0
    private var lastByte = 0

    def sendBits(numOfBits: Int, value: Int): Unit = {
      require(numOfBits < 32 || value >= 0, "32-bit send must be unsigned")
      require(numOfBits >= 32 || (value & ~((1 << numOfBits) - 1)) == 0,
        s"value $value does not fit in $numOfBits bits")
      var nbits = numOfBits
      while (nbits >= 8) {
        lastByte = (lastByte << 8) | ((value >>> (nbits - 8)) & 0xff)
        out.write((lastByte >>> lastBits) & 0xff)
        nbits -= 8
      }
      if (nbits > 0) {
        lastByte = (lastByte << nbits) | (value & ((1 << nbits) - 1))
        lastBits += nbits
        if (lastBits >= 8) {
          lastBits -= 8
          out.write((lastByte >>> lastBits) & 0xff)
        }
      }
    }

    /** Packs one triple in the mixed radix `sizes`, LSB byte first,
      * into exactly `width` bits. */
    def sendInts(width: Int, sizes: Array[Int], v0: Int, v1: Int,
        v2: Int): Unit = {
      require(v1 < sizes(1) && v2 < sizes(2) && v0 >= 0 && v1 >= 0 &&
        v2 >= 0, s"triple ($v0,$v1,$v2) out of range for radix " +
        s"(${sizes(0)},${sizes(1)},${sizes(2)})")
      val bytes = new Array[Int](32)
      var nBytes = 0
      var tmp0 = v0.toLong
      while ({ bytes(nBytes) = (tmp0 & 0xff).toInt; nBytes += 1
               tmp0 >>= 8; tmp0 != 0 }) ()
      var i = 1
      while (i < 3) {
        var tmp = (if (i == 1) v1 else v2).toLong
        var b = 0
        while (b < nBytes) {
          tmp += bytes(b).toLong * sizes(i)
          bytes(b) = (tmp & 0xff).toInt
          tmp >>= 8
          b += 1
        }
        while (tmp != 0) {
          bytes(nBytes) = (tmp & 0xff).toInt
          tmp >>= 8
          nBytes += 1
        }
        i += 1
      }
      if (width >= nBytes * 8) {
        var b = 0
        while (b < nBytes) { sendBits(8, bytes(b)); b += 1 }
        sendBits(width - nBytes * 8, 0)
      } else {
        var b = 0
        while (b < nBytes - 1) { sendBits(8, bytes(b)); b += 1 }
        sendBits(width - (nBytes - 1) * 8, bytes(nBytes - 1))
      }
    }

    /** Flushes the pending partial byte (zero-padded in the low bits)
      * and returns the stream. */
    def finish(): Array[Byte] = {
      if (lastBits > 0) {
        out.write((lastByte << (8 - lastBits)) & 0xff)
        lastBits = 0
      }
      out.toByteArray
    }
  }

  /** Parses one frame's header + coordinate-block parameters at the
    * current position; returns None cleanly at EOF. Leaves the file
    * pointer AT the compressed data (compressed frames) or at the
    * plain-float block (natoms <= 9), with `frameEnd` the offset of
    * the next frame. */
  def readFrameMeta(raf: FsRandom, path: String, frame: Long)
      : Option[XtcFrameMeta] = {
    val start = raf.getFilePointer
    val remaining = raf.length() - start
    if (remaining == 0) return None
    if (remaining < 56) fail(path, frame, s"torn header ($remaining bytes)")
    val head = new Array[Byte](56)
    raf.readFully(head)
    val hb = ByteBuffer.wrap(head) // XDR: big-endian
    val magic = hb.getInt
    if (magic != Magic)
      fail(path, frame, s"magic is $magic, not $Magic — not an XTC frame")
    val nAtoms = hb.getInt
    if (nAtoms < 0) fail(path, frame, s"declares $nAtoms atoms")
    val step = hb.getInt.toLong
    val time = hb.getFloat.toDouble
    val box = new Array[Float](9)
    var i = 0
    while (i < 9) { box(i) = hb.getFloat; i += 1 }
    val lsize = hb.getInt
    if (lsize != nAtoms)
      fail(path, frame, s"coordinate block declares $lsize atoms, " +
        s"header declares $nAtoms")
    if (nAtoms <= 9) {
      // tiny systems are stored as plain floats with no precision field
      val end = start + 56 + 12L * nAtoms
      if (end > raf.length())
        fail(path, frame, "plain coordinate block runs past EOF")
      return Some(XtcFrameMeta(nAtoms, step, time, box, 0f,
        Array(0, 0, 0), Array(0, 0, 0), 0, 0, start + 56, end))
    }
    if (raf.length() - raf.getFilePointer < 36)
      fail(path, frame, "torn compressed-block parameters")
    val sub = new Array[Byte](36)
    raf.readFully(sub)
    val sb = ByteBuffer.wrap(sub)
    val precision = sb.getFloat
    if (!(precision > 0f))
      fail(path, frame, s"non-positive precision $precision")
    val minInt = Array(sb.getInt, sb.getInt, sb.getInt)
    val maxInt = Array(sb.getInt, sb.getInt, sb.getInt)
    i = 0
    while (i < 3) {
      if (maxInt(i) < minInt(i))
        fail(path, frame, s"maxint ${maxInt(i)} < minint ${minInt(i)}")
      i += 1
    }
    val smallIdx = sb.getInt
    if (smallIdx < FirstIdx || smallIdx >= MagicInts.length)
      fail(path, frame, s"smallidx $smallIdx outside " +
        s"[$FirstIdx, ${MagicInts.length})")
    val nBytes = sb.getInt
    if (nBytes < 0) fail(path, frame, s"negative data length $nBytes")
    val dataStart = start + 56 + 36
    val frameEnd = dataStart + ((nBytes + 3) / 4) * 4L // XDR pad
    if (frameEnd > raf.length())
      fail(path, frame, s"compressed data ($nBytes bytes) runs past EOF")
    Some(XtcFrameMeta(nAtoms, step, time, box, precision, minInt, maxInt,
      smallIdx, nBytes, dataStart, frameEnd))
  }

  /** Decodes one compressed coordinate block into nm floats
    * (3×natoms, row-major). The grammar: each atom is either a full
    * `bitsize`-bit triple (offset from minint) or part of a run of
    * small-delta triples following it; a 1-flag introduces a 5-bit
    * run/size-shift token whose mod-3 residue moves `smallidx` up or
    * down the magicints ladder. The first atom of a run is swapped
    * with its predecessor (the format's water-molecule optimization —
    * decode must un-swap by emitting the previous coordinate first).
    *
    * `limit` stops the decode once atoms [0, limit) are out: the
    * bit-stream is sequential, so that prefix is exactly what a full
    * decode yields, and the payload past it is never read — nor
    * checked, as for a header-only scan. The step that reaches
    * `limit` still runs to the end of its run, so `out` must hold
    * [[decodedFloats]]`(nAtoms, limit)` floats. */
  def decompress(meta: XtcFrameMeta, blob: Array[Byte], out: Array[Float],
      path: String, frame: Long, limit: Int = Int.MaxValue): Unit =
    try decompressImpl(meta, blob, out, path, frame, limit)
    catch {
      // a declared nBytes smaller than the atoms' bit demand runs the
      // reader off the blob: surface it as the same parse-error
      // contract every other malformed-input path here upholds
      case _: ArrayIndexOutOfBoundsException =>
        fail(path, frame,
          s"compressed stream truncated mid-decode (${meta.nBytes} bytes" +
            s" for ${meta.nAtoms} atoms)")
    }

  /** Floats [[decompress]] writes for `nAtoms` decoded up to `limit`:
    * the last step may run up to [[MaxRun]] atoms past it. */
  def decodedFloats(nAtoms: Int, limit: Int): Long =
    3L * math.min(nAtoms.toLong, limit.toLong + MaxRun)

  private def decompressImpl(meta: XtcFrameMeta, blob: Array[Byte],
      out: Array[Float], path: String, frame: Long, limit: Int): Unit = {
    val n = meta.nAtoms
    val sizeInt = new Array[Int](3)
    val bitSizeInt = new Array[Int](3)
    var i = 0
    var oversize = false
    while (i < 3) {
      val s = meta.maxInt(i) - meta.minInt(i) + 1
      if (s < 0) fail(path, frame, "integer range overflows")
      sizeInt(i) = s
      if (s > 0xffffff) oversize = true
      i += 1
    }
    var bitSize = 0
    if (oversize) {
      i = 0
      while (i < 3) { bitSizeInt(i) = sizeOfInt(sizeInt(i)); i += 1 }
    } else bitSize = sizeOfInts(sizeInt)

    var smallIdx = meta.smallIdx
    var smaller = MagicInts(math.max(FirstIdx, smallIdx - 1)) / 2
    var small = MagicInts(smallIdx) / 2
    val sizeSmall = new Array[Int](3)
    sizeSmall(0) = MagicInts(smallIdx)
    sizeSmall(1) = sizeSmall(0); sizeSmall(2) = sizeSmall(0)

    val reader = new BitReader(blob)
    val invPrec = 1.0f / meta.precision
    val thisCoord = new Array[Int](3)
    val prevCoord = new Array[Int](3)
    var o = 0 // output float cursor
    var atom = 0
    // the run length PERSISTS across flag groups: a 0 flag re-uses the
    // previous run length unchanged (the encoder's prevrun elision)
    var run = 0
    while (atom < n && atom < limit) {
      if (bitSize == 0) {
        thisCoord(0) = reader.receiveBits(bitSizeInt(0))
        thisCoord(1) = reader.receiveBits(bitSizeInt(1))
        thisCoord(2) = reader.receiveBits(bitSizeInt(2))
      } else reader.receiveInts(bitSize, sizeInt, thisCoord, 0)
      atom += 1
      thisCoord(0) += meta.minInt(0)
      thisCoord(1) += meta.minInt(1)
      thisCoord(2) += meta.minInt(2)
      prevCoord(0) = thisCoord(0)
      prevCoord(1) = thisCoord(1)
      prevCoord(2) = thisCoord(2)

      val flag = reader.receiveBits(1)
      var isSmaller = 0
      if (flag == 1) {
        run = reader.receiveBits(5)
        isSmaller = run % 3
        run -= isSmaller
        isSmaller -= 1
      }
      if (atom + run / 3 > n)
        fail(path, frame, s"run of ${run / 3} overruns $n atoms")
      if (run > 0) {
        var k = 0
        while (k < run) {
          reader.receiveInts(smallIdx, sizeSmall, thisCoord, 0)
          atom += 1
          thisCoord(0) += prevCoord(0) - small
          thisCoord(1) += prevCoord(1) - small
          thisCoord(2) += prevCoord(2) - small
          if (k == 0) {
            // un-swap: the run's first atom was stored before its
            // predecessor; emit in original order
            var t = thisCoord(0)
            thisCoord(0) = prevCoord(0); prevCoord(0) = t
            t = thisCoord(1); thisCoord(1) = prevCoord(1); prevCoord(1) = t
            t = thisCoord(2); thisCoord(2) = prevCoord(2); prevCoord(2) = t
            out(o) = prevCoord(0) * invPrec
            out(o + 1) = prevCoord(1) * invPrec
            out(o + 2) = prevCoord(2) * invPrec
            o += 3
          } else {
            prevCoord(0) = thisCoord(0)
            prevCoord(1) = thisCoord(1)
            prevCoord(2) = thisCoord(2)
          }
          out(o) = thisCoord(0) * invPrec
          out(o + 1) = thisCoord(1) * invPrec
          out(o + 2) = thisCoord(2) * invPrec
          o += 3
          k += 3
        }
      } else {
        out(o) = thisCoord(0) * invPrec
        out(o + 1) = thisCoord(1) * invPrec
        out(o + 2) = thisCoord(2) * invPrec
        o += 3
      }
      smallIdx += isSmaller
      if (smallIdx < FirstIdx || smallIdx >= MagicInts.length)
        fail(path, frame, s"smallidx walked to $smallIdx — corrupt stream")
      if (isSmaller < 0) {
        small = smaller
        smaller =
          if (smallIdx > FirstIdx) MagicInts(smallIdx - 1) / 2 else 0
      } else if (isSmaller > 0) {
        smaller = small
        small = MagicInts(smallIdx) / 2
      }
      sizeSmall(0) = MagicInts(smallIdx)
      sizeSmall(1) = sizeSmall(0); sizeSmall(2) = sizeSmall(0)
    }
  }

  /** Driver-side O(1) probe: magic + first frame's atom count (one
    * 8-byte read) — the `top=` cross-check applied to EVERY named
    * file, including limit-pruned shards (the binpos-parity
    * contract). */
  def probeNatoms(path: String): Int = {
    val raf = FsIO.openRandom(path)
    try {
      if (raf.length() < 8)
        fail(path, 0, s"file is ${raf.length()} bytes — no frame header")
      val b = new Array[Byte](8)
      raf.readFully(b)
      val bb = ByteBuffer.wrap(b)
      val magic = bb.getInt
      if (magic != Magic)
        fail(path, 0, s"magic is $magic, not $Magic — not an XTC file")
      bb.getInt
    } finally raf.close()
  }

  /** Driver-side frame index — (byteOffset, rowsBefore, meta) per
    * frame, exactly the [[TrrFormat.index]] planning shape: XTC's
    * compressed payload makes frames variable-size, so seek
    * addressing needs this walk (two small reads per frame — the
    * 56-byte header and the 36-byte block parameters — then a seek
    * over the data). `maxFrames` lets pushed bounds stop early. */
  def index(path: String, mode: String, maxFrames: Long)
      : IndexedSeq[(Long, Long, XtcFrameMeta)] = {
    val raf = FsIO.openRandom(path)
    try {
      val out = IndexedSeq.newBuilder[(Long, Long, XtcFrameMeta)]
      var frame = 0L
      var rows = 0L
      var stop = false
      while (!stop && frame < maxFrames) {
        val off = raf.getFilePointer
        val m =
          try readFrameMeta(raf, path, frame)
          catch {
            case e: IllegalArgumentException =>
              if (mode == ParseMode.DropMalformed) {
                org.slf4j.LoggerFactory.getLogger("graft.sources.xtc").warn(
                  s"xtc index truncated at frame $frame: ${e.getMessage} " +
                    "(mode=DROPMALFORMED)")
                None
              } else throw e
          }
        m match {
          case Some(meta) =>
            out += ((off, rows, meta))
            rows += meta.nAtoms.toLong
            raf.seek(meta.frameEnd)
            frame += 1
          case None => stop = true
        }
      }
      out.result()
    } finally raf.close()
  }

  /** [[index]] through [[FrameIndexCache]] (VERDICT r19 next #3) —
    * the TRR shape: memo always, sidecar when `spark.graft.index.dir`
    * is set, (length, mtime) invalidation. */
  def indexCached(path: String, mode: String, maxFrames: Long)
      : IndexedSeq[(Long, Long, XtcFrameMeta)] =
    FrameIndexCache.cached("xtc", path, mode, maxFrames,
      writeMeta, readMeta)(mf => index(path, mode, mf))

  private def writeMeta(o: java.io.DataOutputStream,
      m: XtcFrameMeta): Unit = {
    o.writeInt(m.nAtoms); o.writeLong(m.step); o.writeDouble(m.time)
    var i = 0
    while (i < 9) { o.writeFloat(m.box(i)); i += 1 }
    o.writeFloat(m.precision)
    i = 0; while (i < 3) { o.writeInt(m.minInt(i)); i += 1 }
    i = 0; while (i < 3) { o.writeInt(m.maxInt(i)); i += 1 }
    o.writeInt(m.smallIdx); o.writeInt(m.nBytes)
    o.writeLong(m.dataStart); o.writeLong(m.frameEnd)
  }

  private def readMeta(in: java.io.DataInputStream): XtcFrameMeta = {
    val nAtoms = in.readInt(); val step = in.readLong()
    val time = in.readDouble()
    val box = new Array[Float](9)
    var i = 0
    while (i < 9) { box(i) = in.readFloat(); i += 1 }
    val precision = in.readFloat()
    val minInt = new Array[Int](3)
    i = 0; while (i < 3) { minInt(i) = in.readInt(); i += 1 }
    val maxInt = new Array[Int](3)
    i = 0; while (i < 3) { maxInt(i) = in.readInt(); i += 1 }
    XtcFrameMeta(nAtoms, step, time, box, precision, minInt, maxInt,
      in.readInt(), in.readInt(), in.readLong(), in.readLong())
  }
}

/** DataSourceV2 connector for the GROMACS XTC compressed trajectory —
  * the reference registry's `.xtc → [xyz, time, step,
  * unitcell_vectors]` entry (core/dask_traj.py:30) and its own test
  * fixture's format (`tests/test.xtc` is what every reference test
  * loads). Planning is the TRR shape: a driver-side index walk over
  * variable-size frames, partitions carrying exact byte offsets;
  * decoding is [[XtcFormat.decompress]], a clean-room implementation
  * of the public bit-stream grammar (see XtcFormat's scaladoc for the
  * no-GPL provenance note).
  *
  * Columns: long layout + step + per-frame `precision` (null for the
  * tiny-system plain-float path) + the unitcell VECTORS (null when
  * the stored box is all zeros — the format's "no box" convention).
  * Units are GROMACS-native nm/ps, so `unit_scale` defaults to 1.0.
  *
  * Pushdown: `frame_id` bounds prune partitions and the index walk;
  * an `atom_id` upper bound (`<`, `<=`, `=`, `IN`) stops each frame's
  * decode at the bound, and a lower bound skips the rows below it.
  * Every frame header is still read and validated; compressed payload
  * past the bound is not decoded, so it is not checked either — the
  * contract of the header-only scan, which skips the decode when x/y/z
  * are pruned. Spark re-checks every pushed filter after the scan.
  *
  * The shell's gathered reader builds each frame's `(frame_id, a)` row
  * straight from the decode buffer (`explain` shows `XtcScan
  * gathered(atom_id, …)`).
  *
  * Usage: `spark.read.format("xtc").option("chunks", 100).load(path)`.
  */
class XtcDataSource extends FrameSource("xtc", XtcTable.Schema) {
  // file is already nm (GROMACS native units)
  override protected def codec(o: ReadOptions,
      props: util.Map[String, String]): FrameCodec =
    new XtcCodec(o.unitScale(1.0), o.mode, o.topAtoms)
}

object XtcTable {
  /** Long layout + step + precision + unitcell vectors — the `.xtc`
    * registry column set (core/dask_traj.py:30). */
  val Schema: StructType = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("time", DoubleType, nullable = false),
    StructField("step", LongType, nullable = false),
    StructField("precision", FloatType, nullable = true),
    StructField("atom_id", IntegerType, nullable = false),
    StructField("x", FloatType, nullable = false),
    StructField("y", FloatType, nullable = false),
    StructField("z", FloatType, nullable = false),
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

/** Index: [[XtcFormat.indexCached]]; a partition seeks to its first
  * frame's byte offset. `top=` uses the 8-byte [[XtcFormat.probeNatoms]]. */
final class XtcCodec(unitScale: Double, override val mode: String,
    override val expectAtoms: Int = -1) extends FrameCodec {
  override def name: String = "xtc"
  override def schema: StructType = XtcTable.Schema
  override def extensions: Seq[String] = Seq(".xtc")

  override def probeAtoms(path: String): Int = XtcFormat.probeNatoms(path)

  override def index(path: String, frameHi: Long): FrameIndex = {
    val idx = XtcFormat.indexCached(path, mode, frameHi)
    // frames may differ in atom count
    new FrameIndex(idx.length, -1) {
      override def rowsBefore(f: Long): Long =
        if (f < idx.length) idx(f.toInt)._2
        else idx.lastOption.fold(0L)(l => l._2 + l._3.nAtoms)
      override def at(start: Long, end: Long): Any = idx(start.toInt)._1
    }
  }

  override def open(part: FramePartition, need: Set[String],
      atomHi: Int): FrameReader =
    new XtcFrameReader(unitScale, mode, part,
      need("x") || need("y") || need("z"), atomHi)
}

/** Positioned read of a variable-record range: one seek to the
  * partition's indexed byte offset, then sequential frame decode —
  * each frame's own declared data length advances the cursor. The
  * whole compressed blob is read in ONE positioned read and decoded
  * in-task, stopping at `atomHi`; when the x/y/z columns are all pruned
  * the decode is skipped entirely (header-only scan). */
private final class XtcFrameReader(unitScale: Double, mode: String,
    part: FramePartition, needXyz: Boolean, atomHi: Int)
    extends FrameReader("xtc", mode, part) {

  private val raf = FsIO.openRandom(part.path)
  raf.seek(part.at.asInstanceOf[Long])
  private var meta: XtcFrameMeta = _
  private var boxNull = false

  override def next(): Boolean = {
    if (frame + 1 >= part.endFrame) return false
    frame += 1
    val m = XtcFormat.readFrameMeta(raf, part.path,
      frame + part.frameOffset).getOrElse(return false)
    meta = m
    nAtoms = m.nAtoms
    val end = math.min(nAtoms, atomHi)
    // all-zero box = "no unitcell" (the format writes 9 zero floats)
    boxNull = m.box.forall(_ == 0f)
    if (needXyz && end > 0) {
      val floats = XtcFormat.decodedFloats(nAtoms, end)
      if (floats > Int.MaxValue - 8)
        XtcFormat.fail(part.path, frame + part.frameOffset,
          s"$nAtoms atoms do not fit one frame buffer")
      val xs = coords(floats.toInt)
      if (nAtoms <= 9) {
        val buf = new Array[Byte](12 * nAtoms)
        raf.readFully(buf)
        val bb = ByteBuffer.wrap(buf)
        var i = 0
        while (i < 3 * nAtoms) { xs(i) = bb.getFloat; i += 1 }
      } else {
        val blob = new Array[Byte](m.nBytes)
        raf.seek(m.dataStart)
        raf.readFully(blob)
        XtcFormat.decompress(m, blob, xs, part.path,
          frame + part.frameOffset, end)
      }
      if (unitScale != 1.0) {
        var i = 0
        while (i < 3 * end) { xs(i) = (xs(i) * unitScale).toFloat; i += 1 }
      }
    }
    raf.seek(m.frameEnd)
    true
  }

  override def frameValue(ord: Int): Any = ord match {
    case 1 => meta.time
    case 2 => meta.step
    case 3 => if (nAtoms <= 9) null else meta.precision
    case n => if (boxNull) null else (meta.box(n - 8) * unitScale).toFloat
  }

  override def close(): Unit = raf.close()
}
