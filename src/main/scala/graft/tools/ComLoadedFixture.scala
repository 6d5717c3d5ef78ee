package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-shot generator for the committed `fixtures/traj_com_loaded/`
  * inputs behind the registered `q_traj_com_loaded` query — the
  * reference's `compute_center_of_mass(load(f, top=...))` idiom
  * (core/dask_traj.py:61,80-83 + geometry/distance.py:282-337) end to
  * end under the DuckDB oracle gate:
  *
  *  - `traj.mdcrd`  — 24-frame × 10-atom Amber text trajectory with a
  *    box line (the format whose shape REQUIRES top=),
  *  - `top.pdb`     — the topology delivering element → IUPAC masses,
  *  - `twin.parquet`— the loaded trajectory joined with its topology
  *    masses, written by THIS library's own load path, so the DuckDB
  *    oracle can recompute the COM arithmetic from the same values
  *    without parsing mdcrd/PDB.
  *
  * Coordinates are a closed-form function of (frame, atom, axis) with
  * 3 decimals (the mdcrd %8.3f lattice), so the fixture is
  * reproducible byte-for-byte: `runMain graft.tools.ComLoadedFixture`.
  */
object ComLoadedFixture {
  val Frames = 24
  val Atoms = 10
  // cycle through elements with distinct IUPAC masses so the weighted
  // mean actually exercises per-atom weights
  val Elements: Seq[String] =
    Seq("C", "O", "N", "H", "S", "P", "C", "O", "N", "H")

  def raw(frame: Int, atom: Int, axis: Int): Double =
    ((frame * 9973 + atom * 101 + axis * 7919) % 100000) / 1000.0

  def mdcrdText: String = {
    val sb = new StringBuilder("graft com-loaded fixture\n")
    // Locale-pinned (same rule as the PDB/GRO writers): a comma-decimal
    // JVM locale would emit mdcrd fields no parser accepts
    def line(vs: Seq[Double]): String =
      vs.map(v => String.format(java.util.Locale.ROOT, "%8.3f",
        Double.box(v))).mkString
    (0 until Frames).foreach { f =>
      val coords = (0 until Atoms).flatMap(a =>
        Seq(raw(f, a, 0), raw(f, a, 1), raw(f, a, 2)))
      coords.grouped(10).foreach(g => sb.append(line(g)).append('\n'))
      sb.append(line(Seq(20.0, 30.0, 40.0))).append('\n')
    }
    sb.toString
  }

  def pdbText: String = {
    val sb = new StringBuilder
    Elements.zipWithIndex.foreach { case (e, i) =>
      sb.append(f"ATOM  ${i + 1}%5d  $e%s   ALA A${i + 1}%4d      " +
        f"1.000   2.000   3.000  1.00  0.00           $e%s\n")
    }
    sb.append("END\n")
    sb.toString
  }

  def generate(spark: SparkSession, outDir: String): Unit = {
    val dir = Paths.get(outDir)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("traj.mdcrd"), mdcrdText)
    Files.writeString(dir.resolve("top.pdb"), pdbText)
    val traj = spark.read.format("mdcrd")
      .option("top", dir.resolve("top.pdb").toString)
      .option("box", "true")
      .load(dir.resolve("traj.mdcrd").toString)
    val topo = graft.traj.TrajLoad.topology(
      spark, dir.resolve("top.pdb").toString)
    val twin = traj.join(broadcast(topo.select("atom_id", "mass")),
        "atom_id")
      .select("frame_id", "atom_id", "x", "y", "z", "mass")
    val tmp = Files.createTempDirectory("twin").toString
    twin.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error("no part file written"))
    Files.move(part, dir.resolve("twin.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption
      .getOrElse("/root/repo/fixtures/traj_com_loaded")
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark, out)
    graft.traj.TrajQueries.trajComLoaded(spark, "unused").show(5)
    spark.stop()
  }
}
