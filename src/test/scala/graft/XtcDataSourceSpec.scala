package graft

import java.nio.file.{Files, Paths}

import graft.sources.{FsIO, XtcFormat, XtcWrite}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The compressed-trajectory DSv2 suite, in two halves.
  *
  * (1) INDEPENDENT decode oracle: the reference's own flagship fixture
  * `tests/test.xtc` (the file every reference test loads,
  * tests/test_dask_traj.py:20) against `tests/test.pdb` — mdtraj wrote
  * that PDB from frame 0 of the same trajectory, so its ATOM records
  * are an engine-independent statement of what the compressed
  * bit-stream must decode to (2722 atoms × 3 coordinates at PDB's
  * 0.001 Å resolution, plus the CRYST1 triclinic cell). This breaks
  * the encode/decode circularity: a wrong `magicints` entry, a bit
  * order slip, or a run/water-swap mistake cannot pass it.
  *
  * (2) Round-trip against the repo's own writer: encode→decode must
  * reproduce quantize(input) EXACTLY (int-identical), over data shaped
  * to exercise every grammar path — runs, the persistent run-length
  * elision, smallidx grow/shrink, the oversize per-dim path, and the
  * tiny-system plain-float path. */
class XtcDataSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val refXtc = "/root/reference/dask_traj/tests/test.xtc"
  private val refPdb = "/root/reference/dask_traj/tests/test.pdb"
  /** Why a reference pin cancels: names each absent reference file
    * (mdtraj-written; there is no in-repo twin). */
  private def refClue: String =
    "reference files missing: " + Seq(refXtc, refPdb)
      .filterNot(p => Files.exists(Paths.get(p))).mkString(", ")
  /** 3 frames × 400 atoms with small-delta runs (graft.tools.XtcFixture). */
  private val fixtureXtc = "fixtures/traj_xtc/traj.xtc"

  /** The format's quantization, replicated for expected values: decode
    * yields exactly lint × (1/precision) in float32. */
  private def quant(v: Float, prec: Float): Float = {
    val lf = v * prec
    val lint = if (lf >= 0) (lf + 0.5f).toInt else (lf - 0.5f).toInt
    lint * (1.0f / prec)
  }

  // ---------------------------------------------------------------
  // reference fixture: independent decode oracle
  // ---------------------------------------------------------------

  test("reference test.xtc frame 0 decodes to the mdtraj-written PDB " +
    "coordinates (2722 atoms, engine-independent oracle)") {
    assume(Files.exists(Paths.get(refXtc)) && Files.exists(Paths.get(refPdb)),
      refClue)
    // PDB ATOM records: x/y/z in Å at columns 31-54 (0.001 Å grid)
    val pdb = scala.io.Source.fromFile(refPdb)
    val expected =
      try pdb.getLines().filter(_.startsWith("ATOM")).map { l =>
        (l.substring(30, 38).trim.toDouble,
          l.substring(38, 46).trim.toDouble,
          l.substring(46, 54).trim.toDouble)
      }.toArray
      finally pdb.close()
    assert(expected.length == 2722)
    val rows = spark.read.format("xtc").load(refXtc)
      .filter(col("frame_id") === 0L)
      .orderBy("atom_id")
      .select("x", "y", "z", "precision")
      .collect()
    assert(rows.length == 2722)
    val prec = rows(0).getAs[Float]("precision")
    assert(prec == 1000f, s"fixture precision is $prec")
    var worst = 0.0
    rows.zip(expected).foreach { case (r, (ex, ey, ez)) =>
      // file is nm; the PDB is Å
      val dx = math.abs(r.getAs[Float]("x") * 10.0 - ex)
      val dy = math.abs(r.getAs[Float]("y") * 10.0 - ey)
      val dz = math.abs(r.getAs[Float]("z") * 10.0 - ez)
      worst = math.max(worst, math.max(dx, math.max(dy, dz)))
    }
    // the PDB carries the PRE-quantization coordinates (mdtraj wrote it
    // from the source data at 0.001 Å resolution; its values are not on
    // the XTC 0.01 Å grid), so the bound is half the XTC grid plus the
    // PDB's own rounding: 0.005 + 0.0005 Å. Observed: ~0.004. A decode
    // defect is orders of magnitude larger (wrong frames differ by
    // tens of Å — see XtcProbe).
    assert(worst < 5.6e-3, s"worst |xtc - pdb| = $worst Å")
  }

  test("reference test.xtc box matches the PDB CRYST1 triclinic cell " +
    "on every frame; times/steps are monotonic; all frames decode") {
    assume(Files.exists(Paths.get(refXtc)) && Files.exists(Paths.get(refPdb)),
      refClue)
    val cryst = {
      val src = scala.io.Source.fromFile(refPdb)
      try src.getLines().find(_.startsWith("CRYST1")).map { l =>
        (l.substring(6, 15).trim.toDouble, l.substring(15, 24).trim.toDouble,
          l.substring(24, 33).trim.toDouble, l.substring(33, 40).trim.toDouble,
          l.substring(40, 47).trim.toDouble, l.substring(47, 54).trim.toDouble)
      }.get
      finally src.close()
    }
    val (a0, b0, c0, al0, be0, ga0) = cryst
    val frames = spark.read.format("xtc").load(refXtc)
      .filter(col("atom_id") === 0)
      .select("frame_id", "time", "step",
        "bv1x", "bv1y", "bv1z", "bv2x", "bv2y", "bv2z",
        "bv3x", "bv3y", "bv3z")
      .orderBy("frame_id")
      .collect()
    assert(frames.length > 1, "fixture should be multi-frame")
    def len(x: Double, y: Double, z: Double) =
      math.sqrt(x * x + y * y + z * z)
    // NPT trajectory: the box LENGTHS breathe frame to frame (~±0.3 %
    // observed), so only frame 0 — the snapshot the PDB records — is
    // pinned exactly; the cell ANGLES are fixed by the simulation and
    // must hold on every frame, as must lengths staying near CRYST1.
    frames.foreach { r =>
      val fi = r.getAs[Long]("frame_id")
      val v = (1 to 3).map { i =>
        (r.getAs[Float](s"bv${i}x").toDouble,
          r.getAs[Float](s"bv${i}y").toDouble,
          r.getAs[Float](s"bv${i}z").toDouble)
      }
      val la = len(v(0)._1, v(0)._2, v(0)._3) * 10
      val lb = len(v(1)._1, v(1)._2, v(1)._3) * 10
      val lc = len(v(2)._1, v(2)._2, v(2)._3) * 10
      if (fi == 0L)
        assert(math.abs(la - a0) < 0.01 && math.abs(lb - b0) < 0.01 &&
          math.abs(lc - c0) < 0.01,
          s"frame-0 lengths ($la,$lb,$lc) vs CRYST1")
      assert(math.abs(la - a0) < 0.05 * a0 && math.abs(lb - b0) < 0.05 * b0
        && math.abs(lc - c0) < 0.05 * c0,
        s"frame $fi lengths ($la,$lb,$lc) left the NPT envelope")
      def angle(p: (Double, Double, Double), q: (Double, Double, Double)) =
        math.toDegrees(math.acos(
          (p._1 * q._1 + p._2 * q._2 + p._3 * q._3) /
            (len(p._1, p._2, p._3) * len(q._1, q._2, q._3))))
      assert(math.abs(angle(v(1), v(2)) - al0) < 0.1, s"alpha frame $fi")
      assert(math.abs(angle(v(0), v(2)) - be0) < 0.1, s"beta frame $fi")
      assert(math.abs(angle(v(0), v(1)) - ga0) < 0.1, s"gamma frame $fi")
    }
    val times = frames.map(_.getAs[Double]("time"))
    assert(times.zip(times.tail).forall { case (x, y) => y > x },
      "time must increase")
    // every frame decoded with physically sane coordinates: a bit-stream
    // desync produces wild values long before it produces plausible ones
    val stats = spark.read.format("xtc").load(refXtc)
      .agg(min("x"), max("x"), min("y"), max("y"), min("z"), max("z"),
        count(lit(1)))
      .collect()(0)
    (0 until 6).foreach(i =>
      assert(math.abs(stats.getAs[Float](i)) < 100f,
        s"coordinate bound $i = ${stats.get(i)} nm is not physical"))
    assert(stats.getAs[Long](6) == frames.length.toLong * 2722)
  }

  test("committed fixture: chunked reads are row-identical to a " +
    "whole-file read (partition boundaries carry no decoder state)") {
    val whole = spark.read.format("xtc").option("chunks", 10000)
      .load(fixtureXtc).orderBy("frame_id", "atom_id").collect()
    assert(whole.length == 3 * 400)
    Seq(1, 2).foreach { chunks =>
      val chunked = spark.read.format("xtc").option("chunks", chunks)
        .load(fixtureXtc).orderBy("frame_id", "atom_id").collect()
      assert(whole.length == chunked.length)
      whole.zip(chunked).foreach { case (a, b) => assert(a == b) }
    }
  }

  test("TrajLoad dispatches .xtc; top= accepts the matching reference " +
    "topology and rejects a disagreeing one") {
    assume(Files.exists(Paths.get(refXtc)) && Files.exists(Paths.get(refPdb)),
      refClue)
    val df = graft.traj.TrajLoad.load(spark, refXtc,
      options = Map("top" -> refPdb))
    assert(df.filter(col("frame_id") === 0L).count() == 2722)
    // a topology with a different atom count fails at plan time, even
    // under a pushed limit that would prune the file
    val tinyPdb = Files.createTempFile("wrong", ".pdb")
    Files.writeString(tinyPdb,
      "ATOM      1  CA  ALA A   1       1.000   2.000   3.000  1.00  " +
        "0.00           C\nEND\n")
    val e = intercept[Exception] {
      spark.read.format("xtc").option("top", tinyPdb.toString)
        .load(refXtc).limit(1).collect()
    }
    assert(e.getMessage.contains("topology"), e.getMessage)
  }

  test("the reference's flagship idiom end to end: " +
    "compute_center_of_mass(load(test.xtc, top=test.pdb)) — frame-0 " +
    "COM matches a mass-weighted mean computed from the PDB text") {
    assume(Files.exists(Paths.get(refXtc)) && Files.exists(Paths.get(refPdb)),
      refClue)
    val traj = graft.traj.TrajLoad.load(spark, refXtc,
      options = Map("top" -> refPdb))
    val topo = graft.traj.TrajLoad.topology(spark, refPdb)
    val com = graft.traj.TrajQueries.comOfLoaded(traj, topo).collect()
    assert(com.length == 101, s"expected 101 frames, got ${com.length}")
    com.foreach(r => assert(r.getAs[Long]("n_atoms") == 2722))
    // independent frame-0 oracle: coordinates from the PDB TEXT (the
    // pre-quantization values, Å → nm) weighted by the topology's
    // masses — the xtc decode path never touches these numbers
    val masses = topo.select("atom_id", "mass").collect()
      .map(r => r.getAs[Int]("atom_id") -> r.getAs[Double]("mass")).toMap
    val src = scala.io.Source.fromFile(refPdb)
    val coords =
      try src.getLines().filter(_.startsWith("ATOM")).map { l =>
        (l.substring(30, 38).trim.toDouble / 10.0,
          l.substring(38, 46).trim.toDouble / 10.0,
          l.substring(46, 54).trim.toDouble / 10.0)
      }.toArray
      finally src.close()
    var mx = 0.0; var my = 0.0; var mz = 0.0; var mt = 0.0
    coords.zipWithIndex.foreach { case ((x, y, z), i) =>
      val m = masses(i)
      mx += m * x; my += m * y; mz += m * z; mt += m
    }
    val f0 = com.find(_.getAs[Long]("frame_id") == 0L).get
    assert(math.abs(f0.getAs[Double]("com_x") - mx / mt) < 1e-3,
      s"com_x ${f0.getAs[Double]("com_x")} vs ${mx / mt}")
    assert(math.abs(f0.getAs[Double]("com_y") - my / mt) < 1e-3)
    assert(math.abs(f0.getAs[Double]("com_z") - mz / mt) < 1e-3)
    assert(math.abs(f0.getAs[Double]("total_mass") - mt) < 1e-6)
  }

  // ---------------------------------------------------------------
  // writer round-trip: every grammar path
  // ---------------------------------------------------------------

  /** Water-like synthetic data: clusters of 3-5 close atoms (runs, with
    * the water-swap head), cluster-to-cluster jumps (full triples), and
    * slowly drifting magnitudes (smallidx grow/shrink traffic). */
  private def waterish(n: Int, seed: Long): Array[Float] = {
    val rnd = new Random(seed)
    val out = new Array[Float](3 * n)
    var i = 0
    var cx = 0f; var cy = 0f; var cz = 0f
    var left = 0
    while (i < n) {
      if (left == 0) {
        cx = rnd.between(-4f, 4f); cy = rnd.between(-4f, 4f)
        cz = rnd.between(-4f, 4f)
        left = 3 + rnd.nextInt(3)
      }
      val spread = if (rnd.nextInt(5) == 0) 0.5f else 0.02f
      out(3 * i) = cx + rnd.between(-spread, spread)
      out(3 * i + 1) = cy + rnd.between(-spread, spread)
      out(3 * i + 2) = cz + rnd.between(-spread, spread)
      left -= 1
      i += 1
    }
    out
  }

  test("encode→decode reproduces quantize(input) int-exactly over " +
    "run/shift-heavy data, several frames and precisions") {
    val dir = Files.createTempDirectory("xtcrt")
    val path = dir.resolve("rt.xtc").toString
    val precs = Seq(100f, 1000f, 10000f)
    val frames = precs.zipWithIndex.map { case (p, i) =>
      XtcWrite.Frame(waterish(500, seed = 7 * i + 1),
        box = Array(6f, 0f, 0f, 0f, 6f, 0f, 0f, 0f, 6f),
        step = i * 10L, time = i * 0.5, precision = p)
    }
    XtcWrite.write(path, frames)
    val rows = spark.read.format("xtc").load(path)
      .orderBy("frame_id", "atom_id").collect()
    assert(rows.length == 3 * 500)
    rows.foreach { r =>
      val f = r.getAs[Long]("frame_id").toInt
      val a = r.getAs[Int]("atom_id")
      val p = precs(f)
      val src = frames(f).xyz
      assert(r.getAs[Float]("x") == quant(src(3 * a), p),
        s"frame $f atom $a x")
      assert(r.getAs[Float]("y") == quant(src(3 * a + 1), p))
      assert(r.getAs[Float]("z") == quant(src(3 * a + 2), p))
      assert(r.getAs[Float]("precision") == p)
    }
    // compression actually engaged: well under the 12-byte/atom plain
    // encoding (runs + persistent run-length elision at work)
    val plain = 3L * (56 + 36 + 500 * 12)
    assert(Files.size(Paths.get(path)) < plain / 2,
      s"${Files.size(Paths.get(path))} bytes — runs not engaging?")
    val again = spark.read.format("xtc").option("chunks", 1).load(path)
      .orderBy("frame_id", "atom_id").collect()
    rows.zip(again).foreach { case (a, b) => assert(a == b) }
  }

  test("oversize coordinate range takes the per-dimension wide path " +
    "and still round-trips") {
    val dir = Files.createTempDirectory("xtcwide")
    val path = dir.resolve("wide.xtc").toString
    // spread × precision > 2^24 forces the bitsize==0 branch
    val rnd = new Random(11)
    val xyz = Array.tabulate(3 * 40)(_ => rnd.between(-900f, 900f))
    val fr = XtcWrite.Frame(xyz, precision = 10000f)
    XtcWrite.write(path, Seq(fr))
    val rows = spark.read.format("xtc").load(path)
      .orderBy("atom_id").collect()
    assert(rows.length == 40)
    rows.zipWithIndex.foreach { case (r, a) =>
      assert(r.getAs[Float]("x") == quant(xyz(3 * a), 10000f))
      assert(r.getAs[Float]("y") == quant(xyz(3 * a + 1), 10000f))
      assert(r.getAs[Float]("z") == quant(xyz(3 * a + 2), 10000f))
    }
  }

  test("tiny systems (natoms <= 9) take the plain-float path: exact " +
    "floats, null precision") {
    val dir = Files.createTempDirectory("xtctiny")
    val path = dir.resolve("tiny.xtc").toString
    val xyz = Array(1.5f, -2.25f, 3.125f, 0.0078125f, -4.5f, 6.75f)
    XtcWrite.write(path, Seq(XtcWrite.Frame(xyz, step = 3, time = 1.25)))
    val rows = spark.read.format("xtc").load(path)
      .orderBy("atom_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Float]("x") == 1.5f)
    assert(rows(0).getAs[Float]("z") == 3.125f)
    assert(rows(1).getAs[Float]("x") == 0.0078125f)
    assert(rows(0).getAs[Any]("precision") == null)
    // all-zero box reads as null unitcell vectors
    assert(rows(0).getAs[Any]("bv1x") == null)
  }

  test("frame_id pushdown bounds the index walk; limit stops shard " +
    "planning; pruned columns skip the decode") {
    val dir = Files.createTempDirectory("xtcpush")
    val path = dir.resolve("p.xtc").toString
    val frames = (0 until 6).map(i => XtcWrite.Frame(
      waterish(50, seed = i), step = i, time = i * 1.0))
    XtcWrite.write(path, frames)
    val mid = spark.read.format("xtc").load(path)
      .filter(col("frame_id") >= 2L && col("frame_id") < 4L)
    assert(mid.count() == 100)
    assert(mid.select(countDistinct("frame_id")).collect()(0)
      .getLong(0) == 2)
    // header-only projection decodes no coordinates but still counts
    val hdr = spark.read.format("xtc").load(path)
      .select("frame_id", "time", "step")
    assert(hdr.count() == 300)
    assert(spark.read.format("xtc").load(path).limit(51).count() == 51)
  }

  test("multi-file load carries globally contiguous frame ids; " +
    "micro-batch streaming over a shard directory matches the batch " +
    "read") {
    val dir = Files.createTempDirectory("xtcshards").toString
    def shard(i: Int): Unit = XtcWrite.write(
      Paths.get(dir, f"part-$i%05d.xtc").toString,
      (0 until 2).map(j => XtcWrite.Frame(
        waterish(20, seed = 100 * i + j), step = j, time = j * 1.0)))
    shard(0)
    val q = spark.readStream.format("xtc").load(dir)
      .writeStream.format("memory").queryName("xtc_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("xtc_stream").count() == 40)
      shard(1)
      q.processAllAvailable()
      val got = spark.table("xtc_stream")
      assert(got.count() == 80)
      val batch = spark.read.format("xtc").load(dir)
      assert(batch.count() == 80)
      val maxF = got.agg(max("frame_id")).collect()(0).getLong(0)
      assert(maxF == 3 &&
        got.select("frame_id").distinct().count() == 4)
      // streamed rows are value-identical to the batch scan
      assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
    } finally q.stop()
  }

  test("torn trailing frame: FAILFAST throws, DROPMALFORMED truncates " +
    "to the whole frames") {
    val dir = Files.createTempDirectory("xtctorn")
    val good = dir.resolve("good.xtc").toString
    XtcWrite.write(good, (0 until 3).map(i =>
      XtcWrite.Frame(waterish(30, seed = i), step = i)))
    val bytes = Files.readAllBytes(Paths.get(good))
    val torn = dir.resolve("torn.xtc")
    Files.write(torn, java.util.Arrays.copyOf(bytes, bytes.length - 11))
    val e = intercept[Exception] {
      spark.read.format("xtc").load(torn.toString).count()
    }
    assert(e.getMessage.contains("xtc") || e.getCause != null)
    val n = spark.read.format("xtc").option("mode", "DROPMALFORMED")
      .load(torn.toString).select(countDistinct("frame_id"))
      .collect()(0).getLong(0)
    assert(n == 2, s"expected 2 whole frames, got $n")
  }

  test("0-atom frames yield no rows (no phantom atom, no crash); a " +
    "truncated compressed blob fails with frame context, not a raw " +
    "index error") {
    val dir = Files.createTempDirectory("xtcedge")
    val empty = dir.resolve("empty.xtc").toString
    XtcWrite.write(empty, Seq(
      XtcWrite.Frame(Array.empty[Float], step = 0),
      XtcWrite.Frame(waterish(20, seed = 3), step = 1),
      XtcWrite.Frame(Array.empty[Float], step = 2)))
    val df = spark.read.format("xtc").load(empty)
    assert(df.count() == 20) // only the middle frame contributes rows
    assert(df.select(countDistinct("frame_id")).collect()(0)
      .getLong(0) == 1)
    assert(df.agg(max("frame_id")).collect()(0).getLong(0) == 1L)

    // truncated blob: shrink the declared frame's data mid-stream but
    // keep the container structurally valid (nbytes smaller than the
    // bit demand) by patching nbytes down and re-padding
    val good = dir.resolve("short.xtc")
    XtcWrite.write(good.toString, Seq(XtcWrite.Frame(
      waterish(40, seed = 5))))
    val bytes = Files.readAllBytes(good)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val nBytes = bb.getInt(88) // after 56B header + prec + 6 ints + idx
    bb.putInt(88, math.max(4, nBytes / 4))
    val cut = dir.resolve("cut.xtc")
    // keep the file length consistent with the smaller declared blob
    Files.write(cut, java.util.Arrays.copyOf(bytes,
      92 + (math.max(4, nBytes / 4) + 3) / 4 * 4))
    val e = intercept[Exception] {
      spark.read.format("xtc").load(cut.toString)
        .select("x").collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage)
      .getOrElse("")
    assert(msg.contains("truncated mid-decode") || msg.contains("xtc"),
      msg)
  }

  test("BitWriter/BitReader round-trip random widths and mixed-radix " +
    "triples (the grammar's two primitives)") {
    val rnd = new Random(42)
    val widths = Array.fill(200)(1 + rnd.nextInt(24))
    val vals = widths.map(w => rnd.nextInt(1 << w))
    val w = new XtcFormat.BitWriter(64)
    widths.indices.foreach(i => w.sendBits(widths(i), vals(i)))
    val blob = w.finish()
    val r = new XtcFormat.BitReader(blob)
    widths.indices.foreach { i =>
      assert(r.receiveBits(widths(i)) == vals(i), s"at $i")
    }
    // mixed-radix triples at assorted sizes, incl. a >32-bit width
    val sizeSets = Seq(Array(17, 901, 3), Array(40000, 40000, 40000),
      Array(0xffffff, 0xffffff, 0xffffff))
    sizeSets.foreach { sizes =>
      val width = XtcFormat.sizeOfInts(sizes)
      val triples = Array.fill(50)(
        (rnd.nextInt(sizes(0)), rnd.nextInt(sizes(1)),
          rnd.nextInt(sizes(2))))
      val w2 = new XtcFormat.BitWriter(64)
      triples.foreach { case (a, b, c) => w2.sendInts(width, sizes, a, b, c) }
      val r2 = new XtcFormat.BitReader(w2.finish())
      val out = new Array[Int](3)
      triples.foreach { case (a, b, c) =>
        r2.receiveInts(width, sizes, out, 0)
        assert(out(0) == a && out(1) == b && out(2) == c,
          s"sizes ${sizes.toSeq}")
      }
    }
  }

  // ---------------------------------------------------------------
  // atom_id bounds pushed into the scan
  // ---------------------------------------------------------------

  /** Frame `frame` of `path` decoded with `limit` (NaN past what the
    * decode wrote): the step that reaches the limit runs to the end of
    * its small-delta run. */
  private def decodeFrame(path: String, frame: Int, limit: Int)
      : Array[Float] = {
    val raf = FsIO.openRandom(path)
    try {
      var m = XtcFormat.readFrameMeta(raf, path, 0).get
      (1 to frame).foreach { f =>
        raf.seek(m.frameEnd)
        m = XtcFormat.readFrameMeta(raf, path, f).get
      }
      val blob = new Array[Byte](m.nBytes)
      raf.seek(m.dataStart)
      raf.readFully(blob)
      val out = Array.fill(
        XtcFormat.decodedFloats(m.nAtoms, limit).toInt)(Float.NaN)
      XtcFormat.decompress(m, blob, out, path, frame, limit)
      out
    } finally raf.close()
  }

  /** Atoms a decode of frame 0 stopped at `limit` writes. */
  private def decodedAtoms(path: String, limit: Int): Int = {
    val out = decodeFrame(path, 0, limit)
    out.indexWhere(_.isNaN) match {
      case -1 => out.length / 3
      case i => i / 3
    }
  }

  /** The first k > 10 that cuts a small-delta run right after its
    * head: the run's first atom (stored swapped with its predecessor)
    * is kept and the atom after it dropped. */
  private lazy val runHeadCut: Int = (11 until 400).find { k =>
    decodedAtoms(fixtureXtc, k - 1) == k - 1 &&
      decodedAtoms(fixtureXtc, k) > k
  }.getOrElse(fail("the fixture has no small-delta run past atom 10"))

  test("a decode stopped at any limit yields exactly the full decode's " +
    "prefix (every limit 0..nAtoms+5, every fixture frame)") {
    (0 until 3).foreach { f =>
      val full = decodeFrame(fixtureXtc, f, Int.MaxValue)
      assert(full.length == 3 * 400)
      (0 to 405).foreach { k =>
        val kept = 3 * math.min(k, 400)
        val got = decodeFrame(fixtureXtc, f, k)
        assert(got.take(kept).sameElements(full.take(kept)),
          s"frame $f limit $k")
        // the decode stops within one run of the limit
        assert(!got.take(kept).exists(_.isNaN), s"frame $f limit $k")
      }
    }
    assert(decodedAtoms(fixtureXtc, runHeadCut) > runHeadCut)
  }

  private def pushedFilters(df: DataFrame): String =
    "PushedFilters: \\[[^\\]]*\\]".r
      .findAllIn(df.queryExecution.executedPlan.toString).mkString(" ")

  private def sorted(df: DataFrame) = df.collect()
    .sortBy(r => (r.getAs[Long]("frame_id"), r.getAs[Int]("atom_id")))

  /** Each k over `path`, under every operator on all columns and under
    * `<` and IN on the other query shapes: the pushed scan
    * returns exactly the rows of the same predicate over
    * `abs(atom_id)` (ids are >= 0), which the scan cannot see: the
    * optimizer folds `atom_id + 0` back into a pushable comparison. */
  private def assertBoundsMatch(path: String, ks: Seq[Int]): Unit = {
    val plain = spark.read.format("xtc").option("chunks", 1).load(path)
    val scaled = spark.read.format("xtc").option("chunks", 2)
      .option("unit_scale", 10.0).load(path)
    def pred(op: String, k: Int)(c: Column): Column = op match {
      case "<" => c < k
      case "<=" => c <= k
      case "=" => c === k
      case "in" => c.isin(k - 3, k / 2, k)
    }
    val shapes: Seq[(String, DataFrame, DataFrame => DataFrame)] = Seq(
      ("all columns", plain, identity),
      ("frame_id range", plain,
        _.filter(col("frame_id") >= 1L && col("frame_id") <= 2L)),
      ("x/y/z pruned", plain,
        _.select("frame_id", "step", "atom_id", "precision")),
      ("unit_scale 10", scaled, identity))
    for (k <- ks; (what, df, shape) <- shapes;
         op <- if (what == "all columns") Seq("<", "<=", "=", "in")
               else Seq("<", "in")) {
      val p = pred(op, k) _
      val pushed = shape(df.filter(p(col("atom_id"))))
      val opaque = shape(df.filter(p(abs(col("atom_id")))))
      val ctx = s"$path atom_id $op $k, $what"
      assert(pushedFilters(pushed).contains("atom_id"), ctx)
      assert(!pushedFilters(opaque).contains("atom_id"), ctx)
      val want = sorted(opaque)
      assert(sorted(pushed).sameElements(want), ctx)
      if (what == "all columns") {
        // a limit over the bounded scan: rows of the bound, no fewer
        val lim = pushed.limit(7).collect()
        assert(lim.length == math.min(7, want.length), ctx)
        assert(lim.forall(r => want.contains(r)), ctx)
      }
    }
  }

  test("atom_id bounds over the committed fixture (runs engaged) match " +
    "the unpushed predicate: <, <=, =, IN x frame range, limit, pruned " +
    "x/y/z and unit_scale; explain lists the pushed bound") {
    assertBoundsMatch(fixtureXtc,
      Seq(0, 1, 9, 10, runHeadCut, 500, 399, 400, 405))
    val plan = spark.read.format("xtc").load(fixtureXtc)
      .filter(col("atom_id") < 10).queryExecution.executedPlan.toString
    assert(plan.contains("LessThan(atom_id,10)"), plan)
  }

  test("atom_id bounds over a plain-float (natoms <= 9) file match the " +
    "unpushed predicate; precision stays null under the bound") {
    val path = Files.createTempDirectory("xtcbound")
      .resolve("tiny.xtc").toString
    val rnd = new Random(5)
    XtcWrite.write(path, (0 until 3).map(i => XtcWrite.Frame(
      Array.fill(3 * 7)(rnd.between(-3f, 3f)),
      box = Array(3f, 0f, 0f, 0f, 3f, 0f, 0f, 0f, 3f), step = i)))
    assertBoundsMatch(path, Seq(0, 1, 6, 7, 9, 10, 12))
    val rows = spark.read.format("xtc").load(path)
      .filter(col("atom_id") < 3).collect()
    assert(rows.length == 3 * 3)
    assert(rows.forall(_.isNullAt(3)))
  }
}
