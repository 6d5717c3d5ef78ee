package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** `frame_id` pushdown on all 14 trajectory sources, through the one
  * shared read shell ([[graft.sources.FrameScanBuilder]]): every
  * pushed bound, including the Long.MaxValue / Long.MinValue edges
  * where `v + 1` would wrap, returns exactly the rows of the unfiltered
  * read filtered after `collect`. */
class FrameBoundSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val nFrames = 5
  private val nAtoms = 3

  /** Every column any writable source's schema names, for nFrames ×
    * nAtoms rows; a source's write selects its own schema from it. */
  private lazy val wide: DataFrame =
    spark.range(0, nFrames).selectExpr("id AS frame_id")
      .crossJoin(spark.range(0, nAtoms)
        .selectExpr("CAST(id AS INT) AS atom_id"))
      .selectExpr("*",
        "CAST(frame_id * 0.5 AS DOUBLE) AS time",
        "'C' AS element", "'CA' AS name", "'CA' AS atom_name",
        "'ALA' AS res_name", "1 AS res_id", "1 AS res_seq",
        "atom_id + 1 AS serial", "'A' AS chain",
        "CAST(frame_id + atom_id * 0.125 AS FLOAT) AS x",
        "CAST(1.25 AS FLOAT) AS y", "CAST(atom_id AS FLOAT) AS z",
        "CAST(2.0 AS FLOAT) AS box_a", "CAST(3.0 AS FLOAT) AS box_b",
        "CAST(4.0 AS FLOAT) AS box_c", "CAST(90.0 AS FLOAT) AS box_alpha",
        "CAST(90.0 AS FLOAT) AS box_beta",
        "CAST(90.0 AS FLOAT) AS box_gamma",
        "CAST(2.0 AS FLOAT) AS box_x", "CAST(3.0 AS FLOAT) AS box_y",
        "CAST(4.0 AS FLOAT) AS box_z",
        "CAST(2.0 AS FLOAT) AS bv1x", "CAST(0.0 AS FLOAT) AS bv1y",
        "CAST(0.0 AS FLOAT) AS bv1z", "CAST(0.0 AS FLOAT) AS bv2x",
        "CAST(3.0 AS FLOAT) AS bv2y", "CAST(0.0 AS FLOAT) AS bv2z",
        "CAST(0.0 AS FLOAT) AS bv3x", "CAST(0.0 AS FLOAT) AS bv3y",
        "CAST(4.0 AS FLOAT) AS bv3z")

  /** Two shards through the format's own DSv2 writer, so frame ids
    * also continue across files. */
  private def written(fmt: String, schema: StructType): String = {
    val dir = Files.createTempDirectory(s"bound_$fmt").toString
    wide.select(schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
      .repartitionByRange(2, col("frame_id"))
      .sortWithinPartitions("frame_id", "atom_id")
      .write.format(fmt).mode("overwrite").save(dir)
    dir
  }

  private def coords(f: Int): Array[Float] =
    Array.tabulate(nAtoms)(a => (f * 10 + a).toFloat)

  private lazy val dcd: String = {
    val p = Files.createTempFile("bound", ".dcd").toString
    DcdWrite.write(p, (0 until nFrames).map { f =>
      val xs = coords(f)
      DcdWrite.Frame(xs, xs.map(_ + 0.25f), xs.map(_ + 0.5f),
        Some((6.0, 7.0, 8.0, 90.0, 90.0, 90.0)))
    })
    p
  }

  private lazy val trr: String = {
    val p = Files.createTempFile("bound", ".trr").toString
    TrrWrite.write(p, (0 until nFrames).map { f =>
      TrrWrite.Frame(coords(f).flatMap(x => Array(x, x + 0.25f, x + 0.5f)),
        step = f.toLong, time = f * 0.002)
    })
    p
  }

  private lazy val dtr: String = {
    val p = Files.createTempDirectory("bound").resolve("t.dtr").toString
    DtrWrite.write(p, (0 until nFrames).map { f =>
      val xs = coords(f)
      DtrWrite.Frame(xs, xs.map(_ + 0.25f), xs.map(_ + 0.5f),
        Some((20.0, 30.0, 40.0, 90.0, 90.0, 90.0)), time = f * 0.004)
    }, framesPerFile = 2)
    p
  }

  /** A restart file holds one frame: a directory of them is the
    * trajectory, one frame per file in name order. */
  private lazy val inpcrd: String = {
    val dir = Files.createTempDirectory("bound_inpcrd")
    def f12(v: Double): String =
      String.format(java.util.Locale.ROOT, "%12.7f", v)
    (0 until nFrames).foreach { f =>
      val xyz = (1 to 3 * nAtoms).map(_ + 10.0 * f)
      val txt = (Seq("restart", s"     $nAtoms  ${f * 1.0}") ++
        xyz.grouped(6).map(_.map(f12).mkString))
        .mkString("", "\n", "\n")
      Files.writeString(dir.resolve(f"r$f%03d.rst7"), txt)
    }
    dir.toString
  }

  /** format → (path, read options). */
  private lazy val sources: Map[String, (String, Map[String, String])] =
    Map(
      "xtc" -> ("fixtures/traj_xtc/traj.xtc", Map.empty),
      "netcdf" -> ("fixtures/traj_nc/traj.nc", Map.empty),
      "hdf5" -> ("fixtures/traj_h5/traj.h5", Map.empty),
      "mdcrd" -> ("fixtures/traj_com_loaded/traj.mdcrd",
        Map("top" -> "fixtures/traj_com_loaded/top.pdb", "box" -> "true")),
      "dcd" -> (dcd, Map.empty),
      "trr" -> (trr, Map.empty),
      "dtr" -> (dtr, Map.empty),
      "inpcrd" -> (inpcrd, Map.empty),
      "arc" -> (written("arc", ArcTable.Schema), Map.empty),
      "binpos" -> (written("binpos", BinposTable.Schema), Map.empty),
      "gro" -> (written("gro", GroTable.Schema), Map.empty),
      "lammpstrj" ->
        (written("lammpstrj", LammpstrjTable.Schema), Map.empty),
      "pdb" -> (written("pdb", PdbTable.Schema), Map.empty),
      "xyz" -> (written("xyz", XyzTable.Schema), Map.empty))

  private val formats = Seq("arc", "binpos", "dcd", "dtr", "gro", "hdf5",
    "inpcrd", "lammpstrj", "mdcrd", "netcdf", "pdb", "trr", "xtc", "xyz")

  /** (label, pushed predicate, the same predicate on a collected id). */
  private val cases: Seq[(String, Column, Long => Boolean)] = {
    val id = col("frame_id")
    Seq(
      ("<= Long.MaxValue", id <= lit(Long.MaxValue), _ <= Long.MaxValue),
      ("= Long.MaxValue", id === lit(Long.MaxValue), _ == Long.MaxValue),
      ("> Long.MaxValue", id > lit(Long.MaxValue), _ > Long.MaxValue),
      ("< 0", id < lit(0L), _ < 0L),
      (">= Long.MinValue", id >= lit(Long.MinValue), _ >= Long.MinValue),
      ("[1, 3)", id >= lit(1L) && id < lit(3L), v => v >= 1L && v < 3L))
  }

  formats.foreach { fmt =>
    test(s"$fmt: pushed frame_id bounds, Long.MaxValue/MinValue edges " +
      "included, match the unfiltered read filtered after collect") {
      val (path, opts) = sources(fmt)
      val df = spark.read.format(fmt).options(opts).option("chunks", 2)
        .load(path)
      val all = df.collect().toSeq
      // ids 0..n-1 with n >= 3: "<= Long.MaxValue" and "[1, 3)" both
      // select rows
      val ids = all.map(_.getAs[Long]("frame_id")).distinct.sorted
      assert(ids.size >= 3 && ids == (0L until ids.size.toLong),
        s"$fmt frame ids: $ids")
      cases.foreach { case (label, pushed, keep) =>
        val want = all.filter(r => keep(r.getAs[Long]("frame_id")))
          .map(_.toString).sorted
        val got = df.filter(pushed).collect().map(_.toString).toSeq.sorted
        if (got != want) fail(s"$fmt frame_id $label: ${got.size} rows, " +
          s"want ${want.size}")
      }
    }
  }
}
