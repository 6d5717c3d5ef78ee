package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.sources.NetcdfWrite
import org.apache.spark.sql.SparkSession

/** One-shot generator for the committed `fixtures/traj_nc/` pair
  * behind the registered `q_traj_nc_scan` query — the round-11
  * netCDF-classic source under the DuckDB oracle gate:
  *
  *  - `traj.nc`      — 3 frames × 200 atoms (AMBER trajectory
  *    convention, CDF-2) written by [[NetcdfWrite]] with per-frame
  *    cells and times,
  *  - `twin.parquet` — the expected values computed from the same
  *    closed-form source as float32 (the container stores floats
  *    verbatim, so the contract is exact equality), independent of
  *    the reader.
  *
  * Coordinates are a closed-form function of (frame, atom, axis): no
  * RNG, reproducible byte-for-byte via
  * `runMain graft.tools.NcFixture`. */
object NcFixture {
  val Frames = 3
  val Atoms = 200

  def raw(frame: Int, atom: Int, axis: Int): Float =
    (math.sin(0.37 * atom + 1.1 * axis + 0.53 * frame) * 25.0).toFloat

  def frame(f: Int): NetcdfWrite.Frame = NetcdfWrite.Frame(
    Array.tabulate(3 * Atoms)(i => raw(f, i / 3, i % 3)),
    cellLengths = Some(Array(50.0 + f, 60.0 + f, 70.0 + f)),
    cellAngles = Some(Array(90.0, 90.0, 120.0)),
    time = f * 2.0)

  def generate(spark: SparkSession, outDir: String): Unit = {
    val dir = Paths.get(outDir)
    Files.createDirectories(dir)
    NetcdfWrite.write(dir.resolve("traj.nc").toString,
      (0 until Frames).map(frame))
    val rows = for {
      f <- 0 until Frames
      a <- 0 until Atoms
    } yield (f.toLong, (f * 2.0f).toDouble, a,
      raw(f, a, 0), raw(f, a, 1), raw(f, a, 2),
      (50.0 + f).toFloat, (60.0 + f).toFloat, (70.0 + f).toFloat,
      90.0f, 90.0f, 120.0f)
    val twin = spark.createDataFrame(rows).toDF("frame_id", "time",
      "atom_id", "x", "y", "z", "box_a", "box_b", "box_c",
      "box_alpha", "box_beta", "box_gamma")
    val tmp = Files.createTempDirectory("nctwin").toString
    twin.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error("no part file written"))
    Files.move(part, dir.resolve("twin.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/root/repo/fixtures/traj_nc")
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark, out)
    graft.traj.TrajQueries.trajNcScan(spark, "unused").show(3)
    spark.stop()
  }
}
