package graft.sources

import java.nio.ByteBuffer
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, DataSourceRegister}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

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
  * Frame-wide scan: [[XtcScan]] is a [[FrameGatherScan]] (partitions
  * are frame ranges, atoms come out in file order). The [[FrameGather]]
  * rewrite plans `groupBy(frame_id).agg(sort_array(collect_list(
  * struct(atom_id, x, y, z))))` over it as [[XtcScan.gathered]]: one
  * `(frame_id, a)` row per frame, built from the decode buffer, with no
  * atom rows, shuffle or sort in between (`explain` shows `XtcScan
  * gathered(atom_id, …)`).
  *
  * Usage: `spark.read.format("xtc").option("chunks", 100).load(path)`.
  */
class XtcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xtc"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    XtcTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val o = new ReadOptions("xtc", properties)
    val mode = ParseMode.fromOptions("xtc", properties)
    val expectAtoms = Option(properties.get("top"))
      .map(PdbTopology.atomCount).getOrElse(-1)
    // file is already nm (GROMACS native units)
    new XtcTable(o.paths, o.chunks, o.unitScale(1.0), mode, expectAtoms)
  }
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

  /** [[XtcScan.gathered]]'s rows: the frame and its atoms' fields. */
  def gatheredSchema(fields: Seq[String]): StructType = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("a", ArrayType(StructType(("atom_id" +: fields).map(f =>
      StructField(f, Schema(f).dataType, nullable = false))),
      containsNull = false), nullable = false)))
}

class XtcTable(paths: Seq[String], chunks: Int, unitScale: Double,
    mode: String, expectAtoms: Int = -1)
    extends Table with SupportsRead {
  override def name(): String = s"xtc:${paths.mkString(",")}"
  override def schema(): StructType = XtcTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new XtcScanBuilder(paths, chunks, unitScale, mode, expectAtoms)
}

class XtcScanBuilder(paths: Seq[String], chunks: Int, unitScale: Double,
    mode: String, expectAtoms: Int = -1)
    extends FrameScanBuilder(XtcTable.Schema) {
  private var atomLo: Int = 0
  private var atomHi: Int = Int.MaxValue // exclusive

  private def atomBound(v: Long): Int =
    math.max(0L, math.min(v, Int.MaxValue.toLong)).toInt

  /** atom_id predicates bound each frame's decode and row emission
    * (frame_id ones are the shared shell's: they bound the partition
    * plan and the index walk). All filters stay post-scan. */
  override protected def pushOther(filter: Filter): Boolean = filter match {
    case EqualTo("atom_id", v: Int) =>
      atomLo = math.max(atomLo, atomBound(v))
      atomHi = math.min(atomHi, atomBound(v + 1L)); true
    case GreaterThan("atom_id", v: Int) =>
      atomLo = math.max(atomLo, atomBound(v + 1L)); true
    case GreaterThanOrEqual("atom_id", v: Int) =>
      atomLo = math.max(atomLo, atomBound(v)); true
    case LessThan("atom_id", v: Int) =>
      atomHi = math.min(atomHi, atomBound(v)); true
    case LessThanOrEqual("atom_id", v: Int) =>
      atomHi = math.min(atomHi, atomBound(v + 1L)); true
    case In("atom_id", vs)
        if vs.nonEmpty && vs.forall(_.isInstanceOf[Int]) =>
      val ids = vs.map(_.asInstanceOf[Int])
      atomLo = math.max(atomLo, atomBound(ids.min))
      atomHi = math.min(atomHi, atomBound(ids.max + 1L)); true
    case _ => false
  }

  override def build(): Scan =
    new XtcScan(paths, chunks, unitScale, required, frameLo, frameHi, limit,
      mode, expectAtoms, atomLo, atomHi, pushedFilters().toSeq)
}

/** startFrame/endFrame are LOCAL to `filePath`; `startByte` is the
  * exact offset of startFrame's header (from the driver index) and
  * `frameOffset` the global frame id of the file's frame 0. */
case class XtcFrameRange(startFrame: Long, endFrame: Long, startByte: Long,
    filePath: String, frameOffset: Long) extends InputPartition

class XtcScan(paths: Seq[String], chunks: Int, unitScale: Double,
    required: StructType, frameLo: Long, frameHi: Long, limit: Int,
    mode: String, expectAtoms: Int = -1, atomLo: Int = 0,
    atomHi: Int = Int.MaxValue, pushed: Seq[Filter] = Nil,
    gather: Option[Seq[String]] = None)
    extends FrameGatherScan with Batch {
  override def readSchema(): StructType = gather match {
    case Some(fs) => XtcTable.gatheredSchema(fs)
    case None => required
  }
  override def toBatch: Batch = this
  override def description(): String =
    "XtcScan" + gather.fold("")(fs => fs.mkString(" gathered(atom_id, ", ", ", ")")) +
      s" PushedFilters: ${pushed.mkString("[", ", ", "]")}"

  override def gathered(fields: Seq[String]): Scan =
    new XtcScan(paths, chunks, unitScale, required, frameLo, frameHi, limit,
      mode, expectAtoms, atomLo, atomHi, pushed, Some(fields))

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new XtcMicroBatchStream(
      MultiPath.single("xtc", paths, "streaming read"),
      chunks, unitScale, required, mode)

  private def planFile(p: String,
      idx: IndexedSeq[(Long, Long, XtcFrameMeta)], off: Long,
      rowBudget: Long): (Seq[InputPartition], Long) = {
    val lo = math.max(off, frameLo) - off
    var hi = math.min(off + idx.length, frameHi) - off
    if (lo >= hi) return (Nil, 0L)
    if (rowBudget != Long.MaxValue) {
      val base = idx(lo.toInt)._2
      var h = lo
      while (h < hi && idx(h.toInt)._2 - base < rowBudget) h += 1
      hi = h
    }
    if (lo >= hi) return (Nil, 0L)
    val parts = (lo until hi by chunks.toLong).map { start =>
      XtcFrameRange(start, math.min(start + chunks, hi),
        idx(start.toInt)._1, p, off): InputPartition
    }
    val rows = idx(hi.toInt - 1)._2 - idx(lo.toInt)._2 +
      idx(hi.toInt - 1)._3.nAtoms
    (parts, rows)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val files = MultiPath.expandAll("xtc", paths, Seq(".xtc"))
    // top= validates EVERY named file — including shards a pushed
    // limit/frame bound would prune from the plan (binpos parity; one
    // 8-byte probe per file, only when top= was given)
    if (expectAtoms > 0) files.foreach { p =>
      val n = XtcFormat.probeNatoms(p)
      if (n != expectAtoms) throw new IllegalArgumentException(
        s"xtc $p: header declares $n atoms but the topology " +
          s"declares atom count $expectAtoms (option 'top')")
    }
    val budget0 = if (limit >= 0) limit.toLong else Long.MaxValue
    val out = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    var off = 0L
    var budget = budget0
    files.foreach { p =>
      if (budget > 0 && off < frameHi) {
        val idx = XtcFormat.indexCached(p, mode,
          if (frameHi == Long.MaxValue) Long.MaxValue else frameHi - off)
        val (parts, rows) = planFile(p, idx, off, budget)
        out ++= parts
        if (budget != Long.MaxValue) budget = math.max(0L, budget - rows)
        off += idx.length
      }
    }
    out.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new XtcReaderFactory(unitScale, required, mode, atomLo, atomHi, gather)
}

class XtcReaderFactory(unitScale: Double, required: StructType,
    mode: String, atomLo: Int = 0, atomHi: Int = Int.MaxValue,
    gather: Option[Seq[String]] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val range = partition.asInstanceOf[XtcFrameRange]
    gather match {
      case Some(fs) => new XtcGatherReader(unitScale, fs, range, mode, atomLo, atomHi)
      case None => new XtcPartitionReader(unitScale, required, range, mode,
        atomLo, atomHi)
    }
  }
}

/** Positioned read of a variable-record range: one seek to the
  * partition's indexed byte offset, then sequential frame decode —
  * each frame's own declared data length advances the cursor. The
  * whole compressed blob is read in ONE positioned read and decoded
  * in-task; when the x/y/z columns are all pruned the decode is
  * skipped entirely (header-only scan). Each frame emits atoms
  * [atomLo, min(nAtoms, atomHi)), and its decode stops at that end. */
class XtcPartitionReader(unitScale: Double, required: StructType,
    range: XtcFrameRange, mode: String, atomLo: Int = 0,
    atomHi: Int = Int.MaxValue)
    extends PartitionReader[InternalRow] {

  private val raf = FsIO.openRandom(range.filePath)
  raf.seek(range.startByte)

  private val needXyz =
    required.fieldNames.exists(Set("x", "y", "z"))

  private var meta: XtcFrameMeta = _
  protected var xs: Array[Float] = Array.empty
  private var boxNull = false
  protected var frame = range.startFrame - 1 // advanced by loadFrame
  protected var emit = 0
  protected var end = 0 // this frame's emitted atoms are [emit, end)
  private var nAtoms = 0
  private var current: InternalRow = _

  private val ordinals: Array[Int] = {
    val canon = XtcTable.Schema.fieldNames.zipWithIndex.toMap
    required.fieldNames.map(canon)
  }

  protected def loadFrame(): Boolean = {
    if (frame + 1 >= range.endFrame) return false
    frame += 1
    val m = XtcFormat.readFrameMeta(raf, range.filePath,
      frame + range.frameOffset).getOrElse(return false)
    meta = m
    nAtoms = m.nAtoms
    end = math.min(nAtoms, atomHi)
    // all-zero box = "no unitcell" (the format writes 9 zero floats)
    boxNull = m.box.forall(_ == 0f)
    if (needXyz && atomLo < end) {
      val floats = XtcFormat.decodedFloats(nAtoms, end)
      if (floats > Int.MaxValue - 8)
        XtcFormat.fail(range.filePath, frame + range.frameOffset,
          s"$nAtoms atoms do not fit one frame buffer")
      if (xs.length < floats) xs = new Array[Float](floats.toInt)
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
        XtcFormat.decompress(m, blob, xs, range.filePath,
          frame + range.frameOffset, end)
      }
      if (unitScale != 1.0) {
        var i = 3 * atomLo
        while (i < 3 * end) {
          xs(i) = (xs(i) * unitScale).toFloat; i += 1
        }
      }
    }
    raf.seek(m.frameEnd)
    emit = math.min(atomLo, end)
    true
  }

  override def next(): Boolean = {
    // loop: a frame with no atoms in bounds yields no rows but still
    // advances (the initial end = 0 also forces the first load here)
    while (emit >= end) {
      if (!loadFrame()) return false
    }
    val a = emit
    emit += 1
    val row = new Array[Any](ordinals.length)
    var i = 0
    while (i < ordinals.length) {
      row(i) = ordinals(i) match {
        case 0 => frame + range.frameOffset
        case 1 => meta.time
        case 2 => meta.step
        case 3 => if (nAtoms <= 9) null else meta.precision
        case 4 => a // 0-based file-order ordinal — the topology join key
        // contract every trajectory source shares (TrajLoad.topology)
        case 5 => xs(3 * a)
        case 6 => xs(3 * a + 1)
        case 7 => xs(3 * a + 2)
        case n =>
          if (boxNull) null
          else (meta.box(n - 8) * unitScale).toFloat
      }
      i += 1
    }
    current = InternalRow.fromSeq(row.toIndexedSeq)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = raf.close()
}

/** [[XtcScan.gathered]]'s reader: the same frame loop, one row per
  * frame with at least one atom in bounds. Each row's `a` array is
  * written straight from the decode buffer into an UnsafeRow; no atom
  * row is built. */
final class XtcGatherReader(unitScale: Double, fields: Seq[String],
    range: XtcFrameRange, mode: String, atomLo: Int, atomHi: Int)
    extends XtcPartitionReader(unitScale,
      XtcTable.Schema(("frame_id" +: "atom_id" +: fields).toSet),
      range, mode, atomLo, atomHi) {

  // offset of each field within an atom's (x, y, z) triple
  private val offsets = fields.map(f => "xyz".indexOf(f)).toArray
  private val rowWriter = new UnsafeRowWriter(2)
  private val arrayWriter = new UnsafeArrayWriter(rowWriter, 8)
  private val atomWriter = new UnsafeRowWriter(arrayWriter, 1 + offsets.length)

  override def next(): Boolean = {
    do { if (!loadFrame()) return false } while (emit >= end)
    rowWriter.reset()
    rowWriter.zeroOutNullBytes()
    rowWriter.write(0, frame + range.frameOffset)
    val arrayStart = rowWriter.cursor()
    arrayWriter.initialize(end - emit)
    var a = emit
    while (a < end) {
      val atomStart = arrayWriter.cursor()
      atomWriter.resetRowWriter()
      atomWriter.write(0, a)
      var j = 0
      while (j < offsets.length) {
        atomWriter.write(j + 1, xs(3 * a + offsets(j))); j += 1
      }
      arrayWriter.setOffsetAndSizeFromPreviousCursor(a - emit, atomStart)
      a += 1
    }
    rowWriter.setOffsetAndSizeFromPreviousCursor(1, arrayStart)
    true
  }

  override def get(): InternalRow = rowWriter.getRow
}
