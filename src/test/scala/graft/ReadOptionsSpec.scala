package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.TableProvider
import org.apache.spark.sql.connector.expressions.Transform
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** The option parser all 14 trajectory sources share
  * ([[graft.sources.ReadOptions]]): a bad `chunks` and a non-numeric
  * `unit_scale` (where the format takes one, on the pdb write path too)
  * are plan-time IllegalArgumentExceptions naming the format and the
  * option. A user schema is refused by Spark itself, naming the
  * provider. */
class ReadOptionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** format → (provider, takes unit_scale). */
  private val providers: Seq[(String, TableProvider, Boolean)] = Seq(
    ("arc", new ArcDataSource, true),
    ("binpos", new BinposDataSource, true),
    ("dcd", new DcdDataSource, true),
    ("dtr", new DtrDataSource, true),
    ("gro", new GroDataSource, false),
    ("hdf5", new Hdf5DataSource, true),
    ("inpcrd", new InpcrdDataSource, true),
    ("lammpstrj", new LammpstrjDataSource, true),
    ("mdcrd", new MdcrdDataSource, true),
    ("netcdf", new NetcdfDataSource, true),
    ("pdb", new PdbDataSource, true),
    ("trr", new TrrDataSource, true),
    ("xtc", new XtcDataSource, true),
    ("xyz", new XyzDataSource, true))

  /** getTable is where the options are parsed; no file is opened. */
  private def table(p: TableProvider, opts: (String, String)*) =
    p.getTable(null, Array.empty[Transform],
      (Map("path" -> "/nonexistent/traj") ++ opts).asJava)

  providers.foreach { case (fmt, p, takesUnitScale) =>
    test(s"$fmt: bad chunks, unit_scale and read schema are rejected " +
      "at plan time, naming the format and the option") {
      assert(table(p).name().startsWith(s"$fmt:"))
      def rejected(key: String, value: String): Unit = {
        val e = intercept[IllegalArgumentException] {
          spark.read.format(fmt).option(key, value).load("/nonexistent/t")
        }
        assert(e.getMessage.contains(fmt) && e.getMessage.contains(key),
          e.getMessage)
      }
      rejected("chunks", "0")
      rejected("chunks", "abc")
      if (takesUnitScale) rejected("unit_scale", "abc")
      else assert(table(p, "unit_scale" -> "abc") != null)
      // no provider takes external metadata: Spark refuses .schema(...)
      // at load, before any option is read, naming the provider class
      val e = intercept[UnsupportedOperationException] {
        spark.read.format(fmt).schema("frame_id BIGINT, a INT")
          .load("/nonexistent/t")
      }
      assert(e.getMessage.contains(p.getClass.getSimpleName) &&
        e.getMessage.toLowerCase.contains(fmt) &&
        e.getMessage.contains("does not support user-specified schema"),
        e.getMessage)
    }
  }

  test("pdb write: a non-numeric unit_scale is rejected naming the " +
    "format and the option") {
    val df = spark.read.format("xtc").load("fixtures/traj_xtc/traj.xtc")
    val out = java.nio.file.Files.createTempDirectory("pdbopt").toString
    val e = intercept[IllegalArgumentException] {
      df.write.format("pdb").option("unit_scale", "abc").mode("overwrite").save(out)
    }
    assert(e.getMessage.contains("pdb") && e.getMessage.contains("unit_scale"),
      e.getMessage)
  }
}
