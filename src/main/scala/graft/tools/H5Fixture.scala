package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.sources.Hdf5Write
import org.apache.spark.sql.SparkSession

/** One-shot generator for the committed `fixtures/traj_h5/` set
  * behind the registered `q_traj_h5_scan` / `q_traj_lh5_scan`
  * queries — the round-12 clean-room HDF5 source under the DuckDB
  * oracle gate:
  *
  *  - `traj.h5`           — 5 frames × 160 atoms, mdtraj convention
  *    (superblock v0, chunked+gzip float32 coordinates, contiguous
  *    time/cells) written by [[Hdf5Write]];
  *  - `twin.parquet`      — expected values from the same closed form
  *    as float32 (deflate is lossless; exact-equality contract),
  *    independent of the reader;
  *  - `traj.lh5`          — the same coordinates through the legacy
  *    MSMBuilder int16×1000 profile;
  *  - `twin_lh5.parquet`  — round(nm×1000)/1000: the format's OWN
  *    quantization contract, computed independently of encoder and
  *    decoder (the XTC fixture discipline).
  *
  * Coordinates are a closed-form function of (frame, atom, axis): no
  * RNG, reproducible byte-for-byte via
  * `runMain graft.tools.H5Fixture`. */
object H5Fixture {
  val Frames = 5
  val Atoms = 160

  def raw(frame: Int, atom: Int, axis: Int): Float =
    (math.sin(0.41 * atom + 1.3 * axis + 0.71 * frame) * 12.0).toFloat

  /** The lh5 pipeline's value contract: int16 = round(nm × 1000),
    * read back as that integer / 1000 — float32 arithmetic mirroring
    * the reader exactly. */
  def lh5Value(frame: Int, atom: Int, axis: Int): Float =
    (math.round(raw(frame, atom, axis) * 1000.0f) / 1000.0).toFloat

  def frame(f: Int): Hdf5Write.Frame = Hdf5Write.Frame(
    Array.tabulate(3 * Atoms)(i => raw(f, i / 3, i % 3)),
    cellLengths = Some(Array(5.0f + f, 6.0f + f, 7.0f + f)),
    cellAngles = Some(Array(90.0f, 90.0f, 120.0f)),
    time = f * 2.0f)

  /** Element of atom `a` — cycles C, N, O, H so the mass column is a
    * closed-form function of the atom index. */
  def element(a: Int): String = Seq("C", "N", "O", "H")(a % 4)
  def mass(a: Int): Double =
    Seq(12.011, 14.007, 15.999, 1.008)(a % 4)

  /** mdtraj-convention topology JSON: 2 chains × 2 residues × 40
    * atoms, elements cycling per [[element]]. */
  def topologyJson: String = {
    val chains = (0 until 2).map { c =>
      val residues = (0 until 2).map { r =>
        val atoms = (0 until 40).map { k =>
          val idx = c * 80 + r * 40 + k
          s"""{"index": $idx, "name": "A$idx", """ +
            s""""element": "${element(idx)}"}"""
        }.mkString(", ")
        s"""{"index": ${c * 2 + r}, "name": "RES", """ +
          s""""resSeq": ${c * 2 + r + 1}, "atoms": [$atoms]}"""
      }.mkString(", ")
      s"""{"index": $c, "residues": [$residues]}"""
    }.mkString(", ")
    s"""{"chains": [$chains], "bonds": []}"""
  }

  private def onePart(df: org.apache.spark.sql.DataFrame, dest: Path,
      tag: String): Unit = {
    val tmp = Files.createTempDirectory(tag).toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error("no part file written"))
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
  }

  def generate(spark: SparkSession, outDir: String): Unit = {
    val dir = Paths.get(outDir)
    Files.createDirectories(dir)
    val frames = (0 until Frames).map(frame)
    Hdf5Write.write(dir.resolve("traj.h5").toString, frames,
      chunkFrames = 2, shuffle = true,
      topologyJson = Some(topologyJson))
    Hdf5Write.writeLh5(dir.resolve("traj.lh5").toString,
      frames.map(_.copy(cellLengths = None, cellAngles = None)),
      chunkFrames = 3)
    val rows = for {
      f <- 0 until Frames
      a <- 0 until Atoms
    } yield (f.toLong, (f * 2.0f).toDouble, a,
      raw(f, a, 0), raw(f, a, 1), raw(f, a, 2),
      (5.0f + f), (6.0f + f), (7.0f + f), 90.0f, 90.0f, 120.0f)
    onePart(spark.createDataFrame(rows).toDF("frame_id", "time",
      "atom_id", "x", "y", "z", "box_a", "box_b", "box_c",
      "box_alpha", "box_beta", "box_gamma"),
      dir.resolve("twin.parquet"), "h5twin")
    val lh5Rows = for {
      f <- 0 until Frames
      a <- 0 until Atoms
    } yield (f.toLong, a, lh5Value(f, a, 0), lh5Value(f, a, 1),
      lh5Value(f, a, 2))
    onePart(spark.createDataFrame(lh5Rows).toDF("frame_id", "atom_id",
      "x", "y", "z"), dir.resolve("twin_lh5.parquet"), "lh5twin")
    // twin for the embedded-topology COM query: per-atom coordinates
    // with the closed-form IUPAC mass of the atom's cycled element
    val topRows = for {
      f <- 0 until Frames
      a <- 0 until Atoms
    } yield (f.toLong, a, raw(f, a, 0), raw(f, a, 1), raw(f, a, 2),
      mass(a))
    onePart(spark.createDataFrame(topRows).toDF("frame_id", "atom_id",
      "x", "y", "z", "mass"), dir.resolve("twin_top.parquet"), "toptwin")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/root/repo/fixtures/traj_h5")
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark, out)
    graft.traj.TrajQueries.trajH5Scan(spark, "unused").show(3)
    graft.traj.TrajQueries.trajLh5Scan(spark, "unused").show(3)
    spark.stop()
  }
}
