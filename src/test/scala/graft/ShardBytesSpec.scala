package graft

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Pins every byte the eight DSv2 trajectory writers put on disk for
  * one fixed input: 3 partitions, the middle one empty; frames 0-2
  * with box columns, frames 3-4 without; mdcrd with `box=true`. Each
  * case lists the output directory recursively (dtr's `all.stk`,
  * `metadata`, `timekeys` and frame files included) and compares the
  * sorted relative names and the sha256 of each file. The empty
  * partition writes an empty shard for the single-file formats (binpos:
  * the magic only, mdcrd: the title line only) and no frameset for
  * dtr. */
class ShardBytesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val wideSchema = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("time", DoubleType, nullable = false),
    StructField("atom_id", IntegerType, nullable = false),
    StructField("element", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("atom_name", StringType, nullable = false),
    StructField("res_name", StringType, nullable = false),
    StructField("res_id", IntegerType, nullable = false),
    StructField("res_seq", IntegerType, nullable = false),
    StructField("serial", IntegerType, nullable = false),
    StructField("chain", StringType, nullable = false),
    StructField("x", FloatType, nullable = false),
    StructField("y", FloatType, nullable = false),
    StructField("z", FloatType, nullable = false)) ++
    Seq("box_a", "box_b", "box_c", "box_alpha", "box_beta", "box_gamma",
      "box_x", "box_y", "box_z", "bv1x", "bv1y", "bv1z", "bv2x", "bv2y",
      "bv2z", "bv3x", "bv3y", "bv3z")
      .map(StructField(_, FloatType, nullable = true)))

  private val nAtoms = 4

  private def row(f: Int, a: Int): Row = {
    val boxed = f < 3
    val (ba, bb, bc) = (2.5f + 0.1f * f, 3.25f, 4.0f)
    def box(v: Float): Any = if (boxed) v else null
    Row.fromSeq(Seq[Any](f.toLong, f * 0.5, a,
      Seq("C", "N", "O", "H")(a), Seq("CA", "N", "O", "H1")(a),
      Seq("CA", "N", "O", "H1")(a), if (a < 2) "ALA" else "GLY",
      a / 2 + 1, a / 2 + 1, a + 1, if (a < 2) "A" else "B",
      (f * 1.7 + a * 0.3125 - 1.1).toFloat, (f * 0.25 - a * 1.03).toFloat,
      (a * a * 0.77 + f).toFloat) ++
      Seq(box(ba), box(bb), box(bc), box(90f), box(if (f == 1) 88.5f else 90f),
        box(120f), box(ba), box(bb), box(bc),
        box(ba), box(0f), box(0f), box(if (f == 1) 0.8f else 0f), box(bb),
        box(0f), box(0f), box(0f), box(bc)))
  }

  /** Partition 0 holds frames 0-2 (boxed), partition 1 nothing,
    * partition 2 frames 3-4 (boxless). */
  private lazy val wide: DataFrame = {
    val parts = Seq(0 until 3, 0 until 0, 3 until 5)
    val rows = parts.map(_.flatMap(f => (0 until nAtoms).map(row(f, _))))
    val rdd = spark.sparkContext.parallelize(rows, 3).flatMap(rs => rs)
    spark.createDataFrame(rdd, wideSchema)
  }

  private def sha256(p: Path): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Every file under `dir`, by relative name, with its sha256. */
  private def listing(dir: Path): Seq[(String, String)] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> sha256(p)).toSeq.sortBy(_._1)

  private def written(fmt: String, schema: StructType,
      opts: Map[String, String]): Seq[(String, String)] = {
    val dir = Files.createTempDirectory(s"shardbytes_$fmt")
    val df = wide.select(schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
    assert(df.rdd.getNumPartitions == 3)
    df.write.format(fmt).options(opts).mode("overwrite").save(dir.toString)
    listing(dir)
  }

  private val cases: Seq[(String, StructType, Map[String, String])] = Seq(
    ("arc", ArcTable.Schema, Map.empty),
    ("binpos", BinposTable.Schema, Map.empty),
    ("dtr", DtrTable.Schema, Map.empty),
    ("gro", GroTable.Schema, Map.empty),
    ("lammpstrj", LammpstrjTable.Schema, Map.empty),
    ("mdcrd", MdcrdTable.Schema, Map("box" -> "true")),
    ("pdb", PdbTable.Schema, Map.empty),
    ("xyz", XyzTable.Schema, Map.empty))

  private val pinned: Map[String, Seq[(String, String)]] = Map(
    "arc" -> Seq(
      "part-00000.arc" ->
        "69c93369b1791633f67a79d071e5fbc5455f2169ac5ceda1aceda64d7cca0442",
      "part-00001.arc" ->
        "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
      "part-00002.arc" ->
        "116cc5393b8ad9644caaa19961ff37b627f00ba5035c8c65768ea8a4e5ecdc9a"),
    "binpos" -> Seq(
      "part-00000.binpos" ->
        "1d0c6b67f19b356476bb2b19e7400985b5d5534ac122f6a9981fecbf7e3f9565",
      "part-00001.binpos" ->
        "9001e07b0498b0607222af98f7f30f78e82e51a3ffa4d5ec7008a2a875678fb0",
      "part-00002.binpos" ->
        "b370191fe04a562e2c79f11ed0154ef991f862f4df417af4efae598aee1265a4"),
    "dtr" -> Seq(
      "all.stk" ->
        "4f2f0773c453c712ca3c43523a9386a3a9c82a25c70872c000d6fea412d9921b",
      "part-00000.dtr/frame000000000" ->
        "1f83d09618e0c0f3ce99606953a8e8639b08dd92b6a82e559c9f6497eec7e98f",
      "part-00000.dtr/metadata" ->
        "99b80666da4f4c55edcb89649219ca35292315aba1b74e96e531cd64f6e17288",
      "part-00000.dtr/timekeys" ->
        "5de54ac411a780a3cb73984723ec3ef5711a79e6db5f07301fdd3c3a5f1dd54d",
      "part-00002.dtr/frame000000000" ->
        "4d3a95d3f005d4788ba3f17f2be8220e0b40acd4fe3ab01ab4d3a627b49ae0db",
      "part-00002.dtr/metadata" ->
        "f713334093209b188d3ba3211a8f456f6ad31c16d92c27086195f3e9050850ec",
      "part-00002.dtr/timekeys" ->
        "3a2344504d46bfec78605676be0c7f3c5c12b51dc37d655bd6df50d224f53d80"),
    "gro" -> Seq(
      "part-00000.gro" ->
        "c7703b4cfa5759b7aed86f897485d0ffbeea4b9d41e02ff065018d02a479ae49",
      "part-00001.gro" ->
        "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
      "part-00002.gro" ->
        "95d5daf1aa3fde32f5d61b59a609b7fb50edc7cef0e1aa17a9f70b5d8e97f6ca"),
    "lammpstrj" -> Seq(
      "part-00000.lammpstrj" ->
        "fd5f20f732b92286b241552618f6ae0f475fd045c362e575dd3341ef97900e6f",
      "part-00001.lammpstrj" ->
        "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
      "part-00002.lammpstrj" ->
        "f6c1a5d93f349e08862291549915f64dd46cb71e89e76e36021c417fd89e1366"),
    "mdcrd" -> Seq(
      "part-00000.mdcrd" ->
        "f48a383201af826aa9c29a7dec10e4f847592587e67e645818e913e61c93ca62",
      "part-00001.mdcrd" ->
        "b03f22e41459dd553ea6e854e6cd850e0e5c39e09dd9a2a3c5773bd035c937be",
      "part-00002.mdcrd" ->
        "7aada7708e6a0b5a54a29e8776d056a0e89f2ec4dbc9881e8462f518937eeedf"),
    "pdb" -> Seq(
      "part-00000.pdb" ->
        "f873f0abaa94770d56bf88ec0e505b1b2469697796e3f4e9d10516f50d0c4517",
      "part-00001.pdb" ->
        "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
      "part-00002.pdb" ->
        "be6be98c8396e45826d40767fa2a996a21bb2f62a374ade20424a17f357e3ea8"),
    "xyz" -> Seq(
      "part-00000.xyz" ->
        "b45259afffe2cb6df91e9cd9464b448ff8f49b9062c9110cbf37dfa381970086",
      "part-00001.xyz" ->
        "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
      "part-00002.xyz" ->
        "961c23c8b58a8894f0a305637fb57b48179ecdef7c1cc9c2c3c90d91b8f35e1d"))

  cases.foreach { case (fmt, schema, opts) =>
    test(s"$fmt: shard names and bytes are pinned") {
      val got = written(fmt, schema, opts)
      assert(got == pinned(fmt), s"$fmt shard listing: $got")
    }
  }

  // every writer whose codec takes unit_scale (gro is nm-only): a
  // write and read at 0.1 gives back the coordinates written, and every
  // float column a write and read at 1 gives back
  cases.filterNot(_._1 == "gro").foreach { case (fmt, schema, opts) =>
    test(s"$fmt: a write at unit_scale 0.1 reads back at 0.1") {
      val floats = schema.fields.filter(_.dataType == FloatType).map(_.name)
      val read = if (fmt == "mdcrd") opts + ("natoms" -> nAtoms.toString) else opts
      def trip(scale: String): Array[Row] = {
        val dir = Files.createTempDirectory(s"unitscale_$fmt").toString
        wide.select(schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
          .write.format(fmt).options(opts + ("unit_scale" -> scale))
          .mode("overwrite").save(dir)
        spark.read.format(fmt).options(read + ("unit_scale" -> scale)).load(dir)
          .orderBy("frame_id", "atom_id").select(floats.map(col).toSeq: _*)
          .collect()
      }
      val (at1, at01) = (trip("1"), trip("0.1"))
      val ids = for (f <- 0 until 5; a <- 0 until nAtoms) yield row(f, a)
      assert(at01.length == ids.length && at1.length == ids.length)
      def near(a: Float, b: Float): Boolean = math.abs(a - b) <= 1e-3
      at01.zip(at1).zip(ids).foreach { case ((r, r1), in) =>
        Seq("x", "y", "z").foreach { c =>
          val i = floats.indexOf(c)
          assert(near(r.getFloat(i), in.getFloat(wideSchema.fieldIndex(c))),
            s"$fmt $c: read ${r.getFloat(i)}, wrote $in")
        }
        floats.indices.foreach { i =>
          assert(r.isNullAt(i) == r1.isNullAt(i) &&
            (r.isNullAt(i) || near(r.getFloat(i), r1.getFloat(i))),
            s"$fmt ${floats(i)}: ${r.get(i)} at 0.1, ${r1.get(i)} at 1")
        }
      }
    }
  }
}
