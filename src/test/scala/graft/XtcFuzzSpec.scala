package graft

import java.nio.ByteBuffer
import java.nio.file.{Files, Path}

import graft.sources.{FrameScanBuilder, FsIO, XtcCodec, XtcFormat, XtcWrite}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.LessThan
import org.scalatest.funsuite.AnyFunSuite

import scala.util.{Failure, Random, Success, Try}

/** Seeded-random fuzz for the XTC codec, complementing the
  * deterministic suite: arbitrary coordinate clouds (mixed delta
  * magnitudes and signs, so runs, full triples and smallidx shifts
  * all occur) and precisions must round-trip encode→decode to exactly
  * quantize(input) — the format's decode contract — and the
  * mixed-radix primitives must round-trip any in-range triple. 60
  * frame trials × 4 precisions, deterministic seeds: every failure is
  * a reproducible bit-stream the two codec halves disagree on.
  *
  * Malformed input under an `atom_id < k` bound: mutated files
  * (bit flips, byte and header-field overwrites, inflated atom counts,
  * truncations) read through the bounded scan either fail with the
  * codec's parse error or return exactly the rows of a frame-by-frame
  * prefix decode — never a raw index error, a negative array size, an
  * unbounded allocation or a row past the bound. */
class XtcFuzzSpec extends AnyFunSuite {

  private def quant(v: Float, prec: Float): Float = {
    val lf = v * prec
    val lint = if (lf >= 0) (lf + 0.5f).toInt else (lf - 0.5f).toInt
    lint * (1.0f / prec)
  }

  /** Random-walk cloud with three delta regimes. */
  private def cloud(rnd: Random): Array[Float] = {
    val n = 10 + rnd.nextInt(111)
    val out = new Array[Float](3 * n)
    var x = 0f; var y = 0f; var z = 0f
    var i = 0
    while (i < 3 * n) {
      def delta(): Float = rnd.nextInt(3) match {
        case 0 => rnd.between(-0.015f, 0.015f)
        case 1 => rnd.between(-0.4f, 0.4f)
        case _ => rnd.between(-8f, 8f)
      }
      x += delta(); y += delta(); z += delta()
      out(i) = x; out(i + 1) = y; out(i + 2) = z
      i += 3
    }
    out
  }

  test("encode→decode == quantize(input) over random clouds and " +
    "precisions (60 seeded trials)") {
    val precs = Array(10f, 100f, 1000f, 10000f)
    (0 until 60).foreach { trial =>
      val rnd = new Random(1000 + trial)
      val xyz = cloud(rnd)
      val prec = precs(trial % precs.length)
      val bytes = XtcWrite.encodeFrame(XtcWrite.Frame(xyz,
        precision = prec), trial)
      val tmp = java.nio.file.Files.createTempFile("fuzz", ".xtc")
      java.nio.file.Files.write(tmp, bytes)
      val raf = graft.sources.FsIO.openRandom(tmp.toString)
      try {
        val meta = XtcFormat.readFrameMeta(raf, tmp.toString, 0).get
        assert(meta.nAtoms == xyz.length / 3)
        val out = new Array[Float](xyz.length)
        val blob = new Array[Byte](meta.nBytes)
        raf.seek(meta.dataStart)
        raf.readFully(blob)
        XtcFormat.decompress(meta, blob, out, tmp.toString, 0)
        var i = 0
        while (i < xyz.length) {
          assert(out(i) == quant(xyz(i), prec),
            s"trial $trial coord $i: ${out(i)} != " +
              s"quant(${xyz(i)}, $prec)")
          i += 1
        }
      } finally {
        raf.close()
        java.nio.file.Files.delete(tmp)
      }
    }
  }

  test("mixed-radix sendInts/receiveInts round-trip arbitrary " +
    "in-range triples (60 seeded radix sets)") {
    (0 until 60).foreach { trial =>
      val rnd = new Random(2000 + trial)
      val sizes = Array.fill(3)(2 + rnd.nextInt(0xfffffe))
      val width = XtcFormat.sizeOfInts(sizes)
      val triples = Array.fill(20)((rnd.nextInt(sizes(0)),
        rnd.nextInt(sizes(1)), rnd.nextInt(sizes(2))))
      val w = new XtcFormat.BitWriter(64)
      triples.foreach { case (a, b, c) =>
        w.sendInts(width, sizes, a, b, c)
      }
      val r = new XtcFormat.BitReader(w.finish())
      val out = new Array[Int](3)
      triples.foreach { case (a, b, c) =>
        r.receiveInts(width, sizes, out, 0)
        assert(out(0) == a && out(1) == b && out(2) == c,
          s"trial $trial sizes ${sizes.toSeq}")
      }
    }
  }

  /** Clusters of 3-5 close atoms (small-delta runs with the swapped
    * head) between full-triple jumps. */
  private def clustered(rnd: Random, n: Int): Array[Float] = {
    val out = new Array[Float](3 * n)
    var c = Array(0f, 0f, 0f)
    var left = 0
    (0 until n).foreach { a =>
      if (left == 0) {
        c = Array.fill(3)(rnd.between(-4f, 4f)); left = 3 + rnd.nextInt(3)
      }
      (0 until 3).foreach(d =>
        out(3 * a + d) = c(d) + rnd.between(-0.02f, 0.02f))
      left -= 1
    }
    out
  }

  /** (frame, atom, x, y, z) with coordinates as float bits, so a
    * flipped bit that decodes to NaN still compares equal. */
  private type Atom = (Long, Int, Int, Int, Int)

  private def atom(frame: Long, a: Int, x: Float, y: Float, z: Float): Atom =
    (frame, a, java.lang.Float.floatToIntBits(x),
      java.lang.Float.floatToIntBits(y), java.lang.Float.floatToIntBits(z))

  /** The FAILFAST scan of `path` under `atom_id < k`, read through the
    * DSv2 reader itself, so no post-scan filter hides a row past k. */
  private def scanBounded(path: String, k: Int): Seq[Atom] = {
    val b = new FrameScanBuilder(new XtcCodec(1.0, "FAILFAST"), Seq(path), 1)
    b.pushFilters(Array(LessThan("atom_id", k)))
    val batch = b.build().toBatch
    val factory = batch.createReaderFactory()
    batch.planInputPartitions().toSeq.flatMap { p =>
      val r = factory.createReader(p)
      try Iterator.continually(r.next()).takeWhile(identity).map { _ =>
        val row = r.get()
        atom(row.getLong(0), row.getInt(4), row.getFloat(5),
          row.getFloat(6), row.getFloat(7))
      }.toVector
      finally r.close()
    }
  }

  /** What that scan must return, walked frame by frame with the codec:
    * Left("header") when a frame header is malformed, Left("prefix")
    * when a frame's decode up to k fails, else the rows. */
  private def prefixOracle(path: String, k: Int): Either[String, Seq[Atom]] = {
    val raf = FsIO.openRandom(path)
    try {
      val rows = Vector.newBuilder[Atom]
      var frame = 0L
      var more = true
      while (more) {
        val meta = try XtcFormat.readFrameMeta(raf, path, frame)
          catch { case _: IllegalArgumentException => return Left("header") }
        meta match {
          case None => more = false
          case Some(m) =>
            val end = math.min(m.nAtoms, k)
            if (end > 0) {
              val xs = new Array[Float](
                XtcFormat.decodedFloats(m.nAtoms, end).toInt)
              if (m.nAtoms <= 9) {
                val bb = new Array[Byte](12 * m.nAtoms)
                raf.readFully(bb)
                ByteBuffer.wrap(bb).asFloatBuffer().get(xs, 0, 3 * m.nAtoms)
              } else {
                val blob = new Array[Byte](m.nBytes)
                raf.seek(m.dataStart)
                raf.readFully(blob)
                try XtcFormat.decompress(m, blob, xs, path, frame, end)
                catch {
                  case _: IllegalArgumentException => return Left("prefix")
                }
              }
              (0 until end).foreach(a =>
                rows += atom(frame, a, xs(3 * a), xs(3 * a + 1), xs(3 * a + 2)))
            }
            raf.seek(m.frameEnd)
            frame += 1
        }
      }
      Right(rows.result())
    } finally raf.close()
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  private def assertParseError(e: Throwable, ctx: String): Unit = {
    val text = causes(e).map(t => s"${t.getClass.getName}: ${t.getMessage}")
      .mkString("\n")
    assert(causes(e).exists(t => t.isInstanceOf[IllegalArgumentException] &&
      t.getMessage.startsWith("xtc parse error")), s"$ctx: $text")
    assert(!Seq("ArrayIndexOutOfBounds", "NegativeArraySize",
      "OutOfMemory").exists(text.contains), s"$ctx: $text")
  }

  test("malformed input under an atom_id bound: parse error or exactly " +
    "the prefix rows, never a raw error or a row past the bound " +
    "(200 seeded mutants)") {
    val rnd = new Random(77)
    val frames = Seq(60, 7, 60).zipWithIndex.map { case (n, i) =>
      XtcWrite.encodeFrame(XtcWrite.Frame(clustered(rnd, n),
        box = Array(5f, 0f, 0f, 0f, 5f, 0f, 0f, 0f, 5f), step = i), i)
    }
    val base = frames.reduce(_ ++ _)
    val starts = frames.scanLeft(0)(_ + _.length).init
    val dir = Files.createTempDirectory("xtcmut")
    val seen = collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    (0 until 200).foreach { i =>
      val bytes = base.clone()
      val bb = ByteBuffer.wrap(bytes)
      val frame = starts(rnd.nextInt(starts.length))
      val file = rnd.nextInt(6) match {
        case 0 => // one bit anywhere
          val at = rnd.nextInt(bytes.length)
          bytes(at) = (bytes(at) ^ (1 << rnd.nextInt(8))).toByte; bytes
        case 1 => // one bit in frame 0's first compressed bytes
          val at = 92 + rnd.nextInt(8)
          bytes(at) = (bytes(at) ^ (1 << rnd.nextInt(8))).toByte; bytes
        case 2 => // one random byte
          bytes(rnd.nextInt(bytes.length)) = rnd.nextInt(256).toByte; bytes
        case 3 => // a header field set to an edge value
          val field = Seq(4, 52, 56, 60, 64, 72, 84, 88)(rnd.nextInt(8))
          bb.putInt(frame + field, Seq(0, -1, 4, 10, 1 << 24,
            Int.MaxValue)(rnd.nextInt(6)))
          bytes
        case 4 => // both atom counts inflated alike
          val n = Seq(61, 1 << 20, 1 << 28, Int.MaxValue)(rnd.nextInt(4))
          bb.putInt(frame + 4, n); bb.putInt(frame + 52, n); bytes
        case _ => // truncation
          java.util.Arrays.copyOf(bytes, rnd.nextInt(bytes.length))
      }
      val path = dir.resolve(s"m$i.xtc")
      Files.write(path, file)
      val k = Seq(0, 1, 5, 10, 30, 61)(i % 6)
      val ctx = s"mutant $i, atom_id < $k"
      val want = prefixOracle(path.toString, k)
      Try(scanBounded(path.toString, k)) match {
        case Success(rows) =>
          assert(rows.forall(_._2 < k), ctx)
          assert(want == Right(rows.sortBy(r => (r._1, r._2))), ctx)
          seen("read") += 1
        case Failure(e) =>
          assertParseError(e, ctx)
          assert(want.isLeft, s"$ctx: failed on an intact prefix: $e")
          seen(want.swap.toOption.get) += 1
      }
      Files.delete(path)
    }
    // every outcome occurred: clean reads, header failures, and
    // corruption inside the decoded prefix failing under FAILFAST
    assert(seen("read") > 0 && seen("header") > 0 && seen("prefix") > 0,
      seen.toString)
  }

  test("a truncated payload inside the decoded prefix fails the bounded " +
    "Spark read under FAILFAST; the same bytes past the bound do not") {
    val spark = SparkTestBase.spark
    val dir = Files.createTempDirectory("xtccut")
    val good = XtcWrite.encodeFrame(XtcWrite.Frame(
      clustered(new Random(3), 200)), 0)
    val bb = ByteBuffer.wrap(good)
    val nBytes = bb.getInt(88)
    // declare (and keep) only the first quarter of the payload
    val short = nBytes / 4
    bb.putInt(88, short)
    val cut: Path = dir.resolve("cut.xtc")
    Files.write(cut, java.util.Arrays.copyOf(good, 92 + (short + 3) / 4 * 4))
    val e = intercept[Exception] {
      spark.read.format("xtc").load(cut.toString)
        .filter(col("atom_id") < 150).collect()
    }
    assertParseError(e, "atom_id < 150")
    // the first few atoms fit in the kept quarter
    val head = spark.read.format("xtc").load(cut.toString)
      .filter(col("atom_id") < 5).collect()
    assert(head.length == 5)
  }

  test("an atom count too large for one frame buffer fails with a parse " +
    "error, with or without a bound, before any allocation") {
    val bytes = XtcWrite.encodeFrame(XtcWrite.Frame(
      clustered(new Random(4), 40)), 0)
    val bb = ByteBuffer.wrap(bytes)
    bb.putInt(4, Int.MaxValue); bb.putInt(52, Int.MaxValue)
    val path = Files.createTempDirectory("xtcbig").resolve("big.xtc")
    Files.write(path, bytes)
    Seq(Int.MaxValue, Int.MaxValue - 5).foreach { k =>
      val e = intercept[IllegalArgumentException](
        scanBounded(path.toString, k))
      assertParseError(e, s"atom_id < $k")
    }
  }
}
