package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.sources.XtcWrite
import org.apache.spark.sql.SparkSession

/** One-shot generator for the committed `fixtures/traj_xtc/` pair
  * behind the registered `q_traj_xtc_scan` query — the round-11
  * clean-room XTC codec under the DuckDB oracle gate:
  *
  *  - `traj.xtc`     — 3 frames × 400 atoms written by [[XtcWrite]]
  *    with cluster-structured coordinates (small-delta runs, the
  *    water-swap head and full-triple jumps all engage),
  *  - `twin.parquet` — the EXPECTED decoded values, computed from the
  *    same closed-form source coordinates through the format's
  *    quantization contract (lint = round-half-away(x·precision);
  *    value = lint × (1/precision) in float32) — independently of
  *    both the encoder and the decoder, so the oracle never touches
  *    the codec it checks.
  *
  * Coordinates are a closed-form function of (frame, atom, axis): no
  * RNG, reproducible byte-for-byte via
  * `runMain graft.tools.XtcFixture`. */
object XtcFixture {
  val Frames = 3
  val Atoms = 400
  val Prec = 1000f
  val Box: Array[Float] =
    Array(6f, 0f, 0f, 0f, 6f, 0f, 0f, 0f, 6f)

  /** Cluster-of-5 structure: cluster centers jump (full triples),
    * intra-cluster offsets stay ~0.02 nm apart (runs). */
  def raw(frame: Int, atom: Int, axis: Int): Float = {
    val cluster = atom / 5
    val member = atom % 5
    val c = 2.5 * math.sin(0.73 * cluster + 1.1 * axis + 0.37 * frame)
    val o = 0.02 * math.sin(3.1 * member + 0.9 * axis + 0.5 * frame) +
      0.004 * member
    (c + o).toFloat
  }

  /** The format's quantization, applied directly to the source value
    * (the decode contract: exactly lint × (1/prec) in float32). */
  def quant(v: Float): Float = {
    val lf = v * Prec
    val lint = if (lf >= 0) (lf + 0.5f).toInt else (lf - 0.5f).toInt
    lint * (1.0f / Prec)
  }

  def frame(f: Int): XtcWrite.Frame = XtcWrite.Frame(
    Array.tabulate(3 * Atoms)(i => raw(f, i / 3, i % 3)),
    box = Box, step = f * 10L, time = f * 0.5, precision = Prec)

  def generate(spark: SparkSession, outDir: String): Unit = {
    val dir = Paths.get(outDir)
    Files.createDirectories(dir)
    XtcWrite.write(dir.resolve("traj.xtc").toString,
      (0 until Frames).map(frame))
    val rows = for {
      f <- 0 until Frames
      a <- 0 until Atoms
    } yield (f.toLong, (f * 0.5f).toDouble, f * 10L, a,
      quant(raw(f, a, 0)), quant(raw(f, a, 1)), quant(raw(f, a, 2)),
      Box(0), Box(4), Box(8))
    val twin = spark.createDataFrame(rows).toDF("frame_id", "time",
      "step", "atom_id", "x", "y", "z", "bv1x", "bv2y", "bv3z")
    val tmp = Files.createTempDirectory("xtctwin").toString
    twin.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error("no part file written"))
    Files.move(part, dir.resolve("twin.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/root/repo/fixtures/traj_xtc")
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark, out)
    graft.traj.TrajQueries.trajXtcScan(spark, "unused").show(3)
    spark.stop()
  }
}
