package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** mode=COERCEWARN — the warn-and-CAST half of the reference's
  * `ensure_type` contract (utils/validation.py:97-101: input castable
  * to the expected dtype is accepted with a logged warning; only truly
  * invalid input raises). The text sources accept numeric tokens in a
  * convertible-but-wrong lexical form (Fortran `1.5D0` exponents,
  * trailing `1.5f` type suffixes, comma decimals), count each coercion,
  * and surface the count both as a task-logger warning and as the DSv2
  * `coercedRecords` custom metric on the scan. */
class CoerceWarnSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** Executes df and returns the scan's coercedRecords metric value. */
  private def coercedMetric(df: DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.metrics("coercedRecords").value
    }.getOrElse(fail("no BatchScanExec in plan"))
  }

  test("xyz COERCEWARN accepts Fortran/suffix/comma numerics and counts " +
    "them; FAILFAST rejects the same file (validation.py:97-101)") {
    val f = Files.createTempFile("coerce", ".xyz")
    Files.writeString(f,
      "2\n# Step: 0 Box: 6.0 6.0 6.0\n" +
        // D-exponent and comma-decimal need coercion; the f suffix is
        // already valid parseDouble lexical and parses strictly
        "C 1.0D0 2,5 3.0f\n" +
        "O 4.0 5.0 6.0\n")
    // default FAILFAST: the mistyped tokens are an error
    intercept[org.apache.spark.SparkException] {
      spark.read.format("xyz").load(f.toString).collect()
    }
    val df = spark.read.format("xyz").option("mode", "COERCEWARN")
      .load(f.toString)
    val r = df.filter(col("atom_id") === 0).collect()(0)
    assert(r.getAs[Float]("x") == 1.0f)
    assert(r.getAs[Float]("y") == 2.5f)
    assert(r.getAs[Float]("z") == 3.0f)
    // clean tokens on the other atom are untouched
    val r2 = df.filter(col("atom_id") === 1).collect()(0)
    assert(r2.getAs[Float]("x") == 4.0f)
    // the two coercions (D-exponent x, comma y) surface in the DSv2
    // scan metric; z parses strictly so it does not count
    assert(coercedMetric(df.select("frame_id", "x", "y", "z")) == 2L)
  }

  test("xyz COERCEWARN still fails on tokens no coercion rescues") {
    val f = Files.createTempFile("coerce", ".xyz")
    Files.writeString(f, "1\n# Step: 0\nC 1.0 oops 3.0\n")
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("xyz").option("mode", "COERCEWARN")
        .load(f.toString).collect()
    }
    assert(e.getMessage.contains("xyz parse error") ||
      Option(e.getCause).exists(_.getMessage.contains("xyz parse error")))
  }

  test("gro COERCEWARN coerces a Fortran-exponent coordinate in the " +
    "fixed-width field") {
    val f = Files.createTempFile("coerce", ".gro")
    def atom(num: Int, x: String): String =
      f"${1}%5d${"SOL"}%-5s${"OW"}%-5s$num%5d$x%8s${1.0}%8.3f${2.0}%8.3f"
    Files.writeString(f,
      "t= 0\n2\n" + atom(1, "1.50D0") + "\n" + atom(2, "0.250") +
        "\n   6.0   6.0   6.0\n")
    intercept[org.apache.spark.SparkException] {
      spark.read.format("gro").load(f.toString).collect()
    }
    val df = spark.read.format("gro").option("mode", "COERCEWARN")
      .load(f.toString)
    val rows = df.orderBy("atom_id").collect()
    assert(rows(0).getAs[Float]("x") == 1.5f)
    assert(rows(1).getAs[Float]("x") == 0.25f)
    assert(coercedMetric(df.select("x")) == 1L)
  }

  test("pdb COERCEWARN coerces a comma-decimal coordinate") {
    val f = Files.createTempFile("coerce", ".pdb")
    def rec(serial: Int, x: String, y: Double, z: Double): String =
      "ATOM  " + f"$serial%5d" + "  CA  ALA A" + f"$serial%4d" + "    " +
        f"$x%8s" + f"$y%8.3f" + f"$z%8.3f" + "  1.00  0.00           C"
    Files.writeString(f,
      "MODEL     1\n" + rec(1, "1,500", 2.0, 3.0) + "\n" +
        rec(2, "4.000", 5.0, 6.0) + "\nENDMDL\n")
    intercept[org.apache.spark.SparkException] {
      spark.read.format("pdb").load(f.toString).collect()
    }
    val df = spark.read.format("pdb").option("mode", "COERCEWARN")
      .option("unit_scale", "1.0").load(f.toString)
    val rows = df.orderBy("atom_id").collect()
    assert(rows(0).getAs[Float]("x") == 1.5f)
    assert(rows(1).getAs[Float]("x") == 4.0f)
    assert(coercedMetric(df.select("x")) == 1L)
  }

  test("DROPMALFORMED drops surface in the droppedRecords scan metric") {
    val f = Files.createTempFile("coerce", ".xyz")
    Files.writeString(f,
      "2\n# Step: 0\nC 1.0 2.0 3.0\nH bad! 5.0 6.0\n")
    val df = spark.read.format("xyz").option("mode", "DROPMALFORMED")
      .load(f.toString)
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val dropped = plan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.metrics("droppedRecords").value
    }.getOrElse(fail("no BatchScanExec in plan"))
    assert(dropped == 1L)
  }

  CodecFixtures.modeFormats.foreach { fmt =>
    test(s"$fmt: a limit over a DROPMALFORMED read still returns its rows " +
      "when the first frames lost records") {
      val df = spark.read.format(fmt)
        .options(CodecFixtures.options(fmt) + ("mode" -> "DROPMALFORMED"))
        .load(CodecFixtures.malformedDir(fmt))
      val k = 2 * CodecFixtures.nAtoms
      assert(df.limit(k).collect().length == math.min(k.toLong, df.count()))
    }
  }
}
