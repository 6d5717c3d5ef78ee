package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.TableProvider
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** The read-option parser all 14 trajectory sources share
  * ([[graft.sources.ReadOptions]]): a bad `chunks`, a non-numeric
  * `unit_scale` (where the format takes one) and a user schema that
  * differs from the source's fixed one are plan-time
  * IllegalArgumentExceptions naming the format and the option. */
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
  private def table(p: TableProvider, schema: StructType,
      opts: (String, String)*) =
    p.getTable(schema, Array.empty[Transform],
      (Map("path" -> "/nonexistent/traj") ++ opts).asJava)

  providers.foreach { case (fmt, p, takesUnitScale) =>
    test(s"$fmt: bad chunks, unit_scale and read schema are rejected " +
      "at plan time, naming the format and the option") {
      assert(table(p, null).name().startsWith(s"$fmt:"))
      assert(table(p, p.inferSchema(null)).name().startsWith(s"$fmt:"))
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
      else assert(table(p, null, "unit_scale" -> "abc") != null)
      val e = intercept[IllegalArgumentException] {
        table(p, StructType.fromDDL("frame_id BIGINT, a INT"))
      }
      assert(e.getMessage.contains(s"$fmt source has a fixed schema"),
        e.getMessage)
    }
  }
}
