package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import graft.sources._

/** Small trajectories in each of the 14 formats, for the specs that run
  * one table over every codec. Frames are `nAtoms` atoms; global frame
  * `f` has the coordinates [[xyz]]`(f)`. A shard is one file (one
  * frameset directory for dtr, one restart file per frame for inpcrd)
  * named `part-NNNNN.<ext>`. */
object CodecFixtures {
  val formats: Seq[String] = Seq("arc", "binpos", "dcd", "dtr", "gro",
    "hdf5", "inpcrd", "lammpstrj", "mdcrd", "netcdf", "pdb", "trr", "xtc",
    "xyz")

  /** The formats that take `mode` on a batch read. */
  val modeFormats: Seq[String] = Seq("arc", "dcd", "gro", "lammpstrj",
    "mdcrd", "pdb", "trr", "xtc", "xyz")

  val nAtoms = 12

  /** Read options: mdcrd needs its shape, and every file here is
    * already in the read's units. */
  def options(fmt: String): Map[String, String] =
    Map("unit_scale" -> "1.0") ++ (if (fmt == "mdcrd")
      Map("natoms" -> nAtoms.toString, "box" -> "true") else Map.empty)

  /** Interleaved coordinates of global frame `f`, on a 0.125 grid so
    * every text format round-trips them exactly. */
  def xyz(f: Int): Array[Float] =
    Array.tabulate(3 * nAtoms)(i => ((f * 37 + i * 11) % 64) * 0.125f)

  private def ext(fmt: String): String = fmt match {
    case "hdf5" => "h5"
    case "netcdf" => "nc"
    case "inpcrd" => "rst7"
    case f => f
  }

  /** Frames [base, base + frames) of `fmt` as shard `idx` of `dir` (for
    * inpcrd: one restart file per frame, `idx` numbering the first). */
  def shard(fmt: String, dir: Path, idx: Int, base: Int, frames: Int): Unit = {
    val fs = base until base + frames
    def name(i: Int) = dir.resolve(f"part-$i%05d.${ext(fmt)}")
    def split(f: Int) = {
      val c = xyz(f)
      (Array.tabulate(nAtoms)(a => c(3 * a)), Array.tabulate(nAtoms)(a =>
        c(3 * a + 1)), Array.tabulate(nAtoms)(a => c(3 * a + 2)))
    }
    fmt match {
      case "inpcrd" => fs.zipWithIndex.foreach { case (f, i) =>
        Files.writeString(name(idx + i), text(fmt, Seq(f))) }
      case "binpos" =>
        val bb = ByteBuffer.allocate(4 + frames * (4 + 12 * nAtoms))
          .order(ByteOrder.LITTLE_ENDIAN)
        bb.put("fxyz".getBytes("US-ASCII"))
        fs.foreach { f => bb.putInt(nAtoms); xyz(f).foreach(v => bb.putFloat(v)) }
        Files.write(name(idx), bb.array())
      case "dcd" => DcdWrite.write(name(idx).toString, fs.map { f =>
        val (xs, ys, zs) = split(f)
        DcdWrite.Frame(xs, ys, zs, Some((6.0, 7.0, 8.0, 90.0, 90.0, 90.0)))
      })
      case "dtr" => DtrWrite.write(name(idx).toString, fs.map { f =>
        val (xs, ys, zs) = split(f)
        DtrWrite.Frame(xs, ys, zs, Some((6.0, 7.0, 8.0, 90.0, 90.0, 90.0)),
          time = f * 0.5)
      }, framesPerFile = 2)
      case "hdf5" => Hdf5Write.write(name(idx).toString,
        fs.map(f => Hdf5Write.Frame(xyz(f))), chunkFrames = 2)
      case "netcdf" => NetcdfWrite.write(name(idx).toString,
        fs.map(f => NetcdfWrite.Frame(xyz(f))))
      case "trr" => TrrWrite.write(name(idx).toString,
        fs.map(f => TrrWrite.Frame(xyz(f), step = f.toLong, time = f * 0.5)))
      case "xtc" => XtcWrite.write(name(idx).toString,
        fs.map(f => XtcWrite.Frame(xyz(f), step = f.toLong)))
      case _ => Files.writeString(name(idx), text(fmt, fs))
    }
  }

  /** A directory of `shards` shards of `frames` frames each. */
  def dir(fmt: String, shards: Int, frames: Int): String = {
    val d = Files.createTempDirectory(s"codec_$fmt")
    (0 until shards).foreach { s =>
      if (fmt == "inpcrd") shard(fmt, d, s * frames, s * frames, frames)
      else shard(fmt, d, s, s * frames, frames)
    }
    d.toString
  }

  /** One shard of 3 frames whose frame 1 is malformed: an unparseable
    * coordinate in atom 2 (text formats; mdcrd drops the whole frame), a
    * broken record marker (dcd), or a broken frame magic (trr, xtc,
    * which end their index there under DROPMALFORMED). */
  def malformedDir(fmt: String): String = {
    val d = Files.createTempDirectory(s"bad_$fmt")
    shard(fmt, d, 0, 0, 3)
    val p = d.resolve(f"part-00000.${ext(fmt)}")
    def putInt(at: Long, v: Int): Unit = {
      val b = Files.readAllBytes(p)
      ByteBuffer.wrap(b).putInt(at.toInt, v)
      Files.write(p, b)
    }
    fmt match {
      case "dcd" =>
        val frameBytes = 56L + 3L * (8L + 4L * nAtoms)
        putInt(Files.size(p) - 2 * frameBytes, 999)
      case "trr" => putInt(Files.size(p) / 3, 0)
      case "xtc" =>
        putInt(XtcFormat.index(p.toString, "FAILFAST", 2L)(1)._1, 0)
      case _ =>
        val lines = Files.readString(p).split("\n", -1)
        val n = nAtoms
        // frame 1, atom 2: its y coordinate becomes "oops"
        val (at, edit): (Int, String => String) = fmt match {
          case "xyz" => (n + 2 + 2 + 2, word(_, 2))
          case "gro" => (n + 3 + 2 + 2, l => l.take(28) + "    oops" + l.drop(36))
          case "pdb" => (n + 2 + 1 + 2, l => l.take(38) + "    oops" + l.drop(46))
          case "lammpstrj" => (n + 9 + 9 + 2, word(_, 3))
          case "arc" => (n + 2 + 2 + 2, word(_, 3))
          case "mdcrd" =>
            ((3 * n + 9) / 10 + 2, l => l.take(56) + "    oops" + l.drop(64))
        }
        lines(at) = edit(lines(at))
        Files.writeString(p, lines.mkString("\n"))
    }
    d.toString
  }

  private def word(line: String, i: Int): String = {
    val w = line.split(" ")
    w(i) = "oops"
    w.mkString(" ")
  }

  /** A coordinate as the text writers below format it. */
  private def token(fmt: String, v: Float): String = fmt match {
    case "gro" | "mdcrd" | "pdb" => f"$v%8.3f"
    case _ => f"$v%.3f"
  }

  private def text(fmt: String, fs: Seq[Int]): String = {
    val sb = new StringBuilder
    def t(v: Float) = token(fmt, v)
    if (fmt == "mdcrd") sb.append("fixture trajectory\n")
    fs.foreach { f =>
      val c = xyz(f)
      def atoms(line: (Int, Float, Float, Float) => String): Unit =
        (0 until nAtoms).foreach(a =>
          sb.append(line(a, c(3 * a), c(3 * a + 1), c(3 * a + 2))).append('\n'))
      fmt match {
        case "xyz" =>
          sb.append(s"$nAtoms\n# Step: $f Box: 6.0 7.0 8.0\n")
          atoms((_, x, y, z) => s"C ${t(x)} ${t(y)} ${t(z)}")
        case "gro" =>
          sb.append(s"fixture t= $f.0\n").append(f"$nAtoms%5d\n")
          atoms((a, x, y, z) =>
            f"${a / 3 + 1}%5dSOL  ${"OW"}%5s${a + 1}%5d" + t(x) + t(y) + t(z))
          sb.append("   6.00000   7.00000   8.00000\n")
        case "pdb" =>
          sb.append(f"MODEL     ${f + 1}%4d\n")
          atoms((a, x, y, z) => f"ATOM  ${a + 1}%5d  CA  ALA A${a + 1}%4d    " +
            t(x) + t(y) + t(z) + "  1.00  0.00           C")
          sb.append("ENDMDL\n")
        case "lammpstrj" =>
          sb.append(s"ITEM: TIMESTEP\n$f\nITEM: NUMBER OF ATOMS\n$nAtoms\n" +
            "ITEM: BOX BOUNDS pp pp pp\n0.0 6.0\n0.0 7.0\n0.0 8.0\n" +
            "ITEM: ATOMS id type x y z\n")
          atoms((a, x, y, z) => s"${a + 1} C ${t(x)} ${t(y)} ${t(z)}")
        case "arc" =>
          sb.append(s"$nAtoms fixture\n6.0 7.0 8.0 90.0 90.0 90.0\n")
          atoms((a, x, y, z) => s"${a + 1} C ${t(x)} ${t(y)} ${t(z)} 1")
        case "mdcrd" =>
          c.map(t).grouped(10).foreach(g => sb.append(g.mkString).append('\n'))
          sb.append(t(6f) + t(7f) + t(8f) + "\n")
        case "inpcrd" =>
          def f12(v: Double) = String.format(java.util.Locale.ROOT, "%12.7f", v)
          sb.append(s"restart\n     $nAtoms  ${f * 0.5}\n")
          c.grouped(6).foreach(g => sb.append(g.map(v => f12(v)).mkString)
            .append('\n'))
      }
    }
    sb.toString
  }
}
