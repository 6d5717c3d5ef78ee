package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The session in SparkTestBase is built with
  * spark.sql.extensions=graft.GraftExtensions and no explicit
  * GraftFunctions.register call — these queries only resolve if the
  * extensions injection worked. */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("extension-injected functions resolve without manual registration") {
    val r = spark.sql(
      """SELECT min_fingerprint('hello world hello') AS fp,
        |  ngram5_count('hello world') AS ng,
        |  dot_scaled(array(CAST(1.0 AS DOUBLE), 2.0),
        |             array(CAST(3.0 AS DOUBLE), 4.0)) AS dot,
        |  lsh16_code(array(CAST(0.5 AS DOUBLE), -0.25)) AS code,
        |  simhash64('a b c').sim_lo AS slo""".stripMargin).collect()(0)
    assert(r.getAs[String]("fp").length == 32)
    assert(r.getAs[Int]("ng") == 7)
    assert(r.getAs[Long]("dot") == 11L * 1000000000000L)
    assert(r.getAs[Long]("code") >= 0L)
  }

  test("round-4 injections resolve: rep_stats, topk_pairs, " +
    "pair_dist_stats") {
    val r = spark.sql(
      """SELECT rep_stats('a b a').topw AS topw,
        |  pair_dist_stats(CAST(array(0.0, 3.0) AS ARRAY<FLOAT>),
        |                  CAST(array(0.0, 0.0) AS ARRAY<FLOAT>),
        |                  CAST(array(0.0, 4.0) AS ARRAY<FLOAT>)).mx AS mx
        |""".stripMargin).collect()(0)
    assert(r.getAs[Long]("topw") == 2L)
    assert(r.getAs[Double]("mx") == 5.0)
    val agg = spark.sql(
      """SELECT k, topk_pairs(v, id, 2) AS top FROM VALUES
        |  (1, CAST(3.0 AS DOUBLE), CAST(10 AS BIGINT)),
        |  (1, 1.0, 11), (1, 2.0, 12) AS t(k, v, id)
        |GROUP BY k""".stripMargin).collect()(0)
    val top = agg.getSeq[org.apache.spark.sql.Row](1)
    assert(top.map(_.getLong(1)) == Seq(10L, 12L))
  }

  test("injected and registry forms are the same expressions") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT min_fingerprint('abcdefghij') AS a").collect()(0)
    assert(r.getAs[String]("a") ==
      graft.functions.HashKernels.fingerprint("abcdefghij"))
  }

  test("every function-table entry resolves with usage text in an " +
    "extension-only session") {
    // a new session carries the extensions and was never registered
    val fresh = spark.newSession()
    GraftFunctions.table.foreach { f =>
      assert(fresh.sessionState.functionRegistry.functionExists(f.id),
        s"${f.name} is not injected")
      assert(fresh.sessionState.catalog.lookupFunctionInfo(f.id)
        .getUsage.nonEmpty, s"${f.name} has no usage text")
    }
    assert(GraftFunctions.table.map(_.name).distinct.size ==
      GraftFunctions.table.size)
  }

  test("register does not replace functions a session already has") {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    val id = FunctionIdentifier("shingles_k")
    // with one name missing, register fills the table in
    reg.dropFunction(id)
    GraftFunctions.register(s)
    // a builder lambda is one shared instance per call site, so the
    // entry's ExpressionInfo (new per registration) shows a replace
    val first = (reg.lookupFunction(id), reg.lookupFunctionBuilder(id))
    assert(first._1.isDefined && first._2.isDefined)
    GraftFunctions.register(s)
    assert(reg.lookupFunction(id).exists(_ eq first._1.get))
    assert(reg.lookupFunctionBuilder(id).exists(_ eq first._2.get))
  }

  test("only GraftSession builds a SparkSession under src/main") {
    val base = java.nio.file.Paths.get(
      sys.props.getOrElse("graft.base", sys.props("user.dir")))
    val files = java.nio.file.Files.walk(base.resolve("src/main"))
    val offenders =
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "GraftSession.scala")
        .filter(p => java.nio.file.Files.readString(p)
          .contains("SparkSession.builder"))
        .map(p => base.relativize(p).toString).toList
      finally files.close()
    assert(offenders.isEmpty,
      s"use graft.GraftSession.builder() instead in: " +
        offenders.mkString(", "))
  }

  test("only the frame-source shell defines a reader factory, a " +
    "micro-batch stream or a readable table under sources/") {
    val base = java.nio.file.Paths.get(
      sys.props.getOrElse("graft.base", sys.props("user.dir")))
    val shell = Set("FrameSource.scala", "ShardStreams.scala")
    val copy = ("""(extends|with)\s+(PartitionReaderFactory|MicroBatchStream)\b|""" +
      """extends\s+Table\s+with\s+SupportsRead""").r
    val files = java.nio.file.Files.list(
      base.resolve("src/main/scala/graft/sources"))
    val offenders =
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(p => shell(p.getFileName.toString))
        .filter(p => copy.findFirstIn(java.nio.file.Files.readString(p)).nonEmpty)
        .map(p => base.relativize(p).toString).toList
      finally files.close()
    assert(offenders.isEmpty,
      s"put the codec on the FrameCodec shell instead in: " +
        offenders.mkString(", "))
  }

  test("only the kernel-call expression and the top-k aggregate define " +
    "an expression class under functions/") {
    val base = java.nio.file.Paths.get(
      sys.props.getOrElse("graft.base", sys.props("user.dir")))
    val shell = Set("KernelCall.scala", "TopKAgg.scala")
    val copy = """extends\s+(Unary|Binary|Ternary)?Expression\b""".r
    val files = java.nio.file.Files.list(
      base.resolve("src/main/scala/graft/functions"))
    val offenders =
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(p => shell(p.getFileName.toString))
        .filter(p => copy.findFirstIn(java.nio.file.Files.readString(p)).nonEmpty)
        .map(p => base.relativize(p).toString).toList
      finally files.close()
    assert(offenders.isEmpty,
      s"add a Kernel entry to GraftFunctions.table instead in: " +
        offenders.mkString(", "))
  }
}
