package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.XtcWrite

/** The frame-gather rewrite ([[graft.sources.FrameGather]]): the
  * per-frame `sort_array(collect_list(struct(atom_id, …)))` over an XTC
  * scan is planned as the scan's frame-wide form, and answers exactly
  * as the same query over `localCheckpoint()`ed atom rows, which is no
  * DSv2 scan, so nothing rewrites it. The session is registered with
  * `GraftFunctions.register`, whose extra strategy plans ahead of the
  * one the extension injects. */
class FrameGatherSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = {
    val s = SparkTestBase.spark.newSession()
    functions.GraftFunctions.register(s)
    functions.GraftFunctions.register(s)
    s
  }

  /** 3 frames × 400 atoms (graft.tools.XtcFixture). */
  private val fixture = "fixtures/traj_xtc/traj.xtc"
  private val nAtoms = 400

  private def coords(n: Int, seed: Long): Array[Float] = {
    val rnd = new Random(seed)
    Array.fill(3 * n)(rnd.between(-3f, 3f))
  }

  /** Two shards of 2 frames × 30 atoms: frame ids 0..3 across files. */
  private lazy val shardDir: String = {
    val dir = Files.createTempDirectory("gathershards")
    for (s <- 0 until 2) XtcWrite.write(dir.resolve(s"part-$s.xtc").toString,
      (0 until 2).map(f => XtcWrite.Frame(coords(30, 10 * s + f), step = f)))
    dir.toString
  }

  /** 3 frames × 7 atoms: the plain-float path. */
  private lazy val tinyFile: String = {
    val path = Files.createTempDirectory("gathertiny").resolve("t.xtc").toString
    XtcWrite.write(path, (0 until 3).map(f => XtcWrite.Frame(coords(7, f))))
    path
  }

  private def gather(df: DataFrame, cond: Column,
      fields: Seq[String] = Seq("x", "y", "z")): DataFrame =
    df.filter(cond).groupBy("frame_id")
      .agg(sort_array(collect_list(struct(("atom_id" +: fields).map(col): _*))).as("a"))

  private def stats(frames: DataFrame): DataFrame =
    frames.select(expr("pair_dist_stats(transform(a, s -> s.x), " +
        "transform(a, s -> s.y), transform(a, s -> s.z))").as("st"))
      .agg(sum(col("st.cnt")), sum(col("st.sum")), min(col("st.mn")),
        max(col("st.mx")))

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** `query` over the scan against the same query over the
    * checkpointed rows: equal frames and pair stats, and the gather
    * planned as the wide scan exactly when `wide`. */
  private def check(load: SparkSession => DataFrame, wide: Boolean)(
      query: DataFrame => DataFrame): Unit = {
    val df = load(spark)
    val got = query(df)
    val want = query(df.localCheckpoint())
    val plan = planOf(got)
    if (wide)
      assert(plan.contains("gathered(") && !plan.contains("ObjectHashAggregate"), plan)
    else
      assert(!plan.contains("gathered(") && plan.contains("ObjectHashAggregate"), plan)
    assert(got.orderBy("frame_id").collect().toSeq ==
      want.orderBy("frame_id").collect().toSeq)
    val fields = got.schema.find(_.name == "a").map(_.dataType).collect {
      case ArrayType(st: StructType, _) => st.fieldNames.toSet
    }.getOrElse(Set.empty[String])
    if (Set("x", "y", "z").subsetOf(fields)) {
      // the kernel's input drops frame_id (and, in the negative cases, any
      // unused extra aggregate, which may then take the wide scan)
      if (wide) assert(planOf(stats(got)).contains("gathered("))
      val g = stats(got).collect()(0)
      val w = stats(want).collect()(0)
      assert(g.get(0) == w.get(0) && g.get(2) == w.get(2) && g.get(3) == w.get(3),
        s"$g != $w")
      if (!w.isNullAt(1))
        assert(math.abs(g.getDouble(1) - w.getDouble(1)) <= 1e-9 * w.getDouble(1),
          s"$g != $w")
    }
  }

  private def xtc(path: String, opts: (String, String)*)(s: SparkSession) =
    s.read.format("xtc").options(opts.toMap).load(path)

  test("register installs the strategy once") {
    assert(spark.experimental.extraStrategies.count(_ == sources.FrameGather) == 1)
  }

  test("atom_id < k at the frame's edges: k = 0 gathers no frame, " +
    "k past nAtoms gathers them all") {
    for (k <- Seq(0, 1, nAtoms - 1, nAtoms, nAtoms + 5))
      check(xtc(fixture), wide = true)(gather(_, col("atom_id") < k))
  }

  test(">=, >, = and literal-first bounds, alone and combined") {
    for (cond <- Seq(col("atom_id") >= 390, col("atom_id") > 395,
        col("atom_id") === 7, lit(10) > col("atom_id"),
        col("atom_id") >= 5 && col("atom_id") <= 60, col("atom_id") > nAtoms))
      check(xtc(fixture), wide = true)(gather(_, cond))
  }

  test("a frame_id range stays as a filter above the wide scan") {
    check(xtc(fixture), wide = true)(gather(_,
      col("frame_id") >= 1L && col("frame_id") < 3L && col("atom_id") < 50))
    check(xtc(fixture), wide = true)(gather(_, col("frame_id") =!= 1L &&
      col("atom_id") < 50))
  }

  test("struct field subsets and orders; output columns reordered") {
    check(xtc(fixture), wide = true)(gather(_, col("atom_id") < 20, Seq("x")))
    check(xtc(fixture), wide = true)(gather(_, col("atom_id") < 20, Seq("z", "x")))
    check(xtc(fixture), wide = true)(gather(_, col("atom_id") < 20, Nil))
    check(xtc(fixture), wide = true)(gather(_, col("atom_id") < 30).select("a", "frame_id"))
  }

  test("unit_scale 10, chunks 1, a two-shard directory and the " +
    "plain-float file") {
    check(xtc(fixture, "unit_scale" -> "10"), wide = true)(gather(_, col("atom_id") < 100))
    check(xtc(fixture, "chunks" -> "1"), wide = true)(gather(_, col("atom_id") < 100))
    for (k <- Seq(0, 1, 29, 30, 40))
      check(xtc(shardDir, "chunks" -> "1"), wide = true)(gather(_, col("atom_id") < k))
    check(xtc(shardDir), wide = true)(gather(_, col("frame_id") > 0L && col("atom_id") >= 3))
    for (k <- Seq(0, 1, 6, 7, 9))
      check(xtc(tinyFile), wide = true)(gather(_, col("atom_id") < k))
    check(xtc(tinyFile, "unit_scale" -> "10"), wide = true)(gather(_, col("atom_id") < 5))
  }

  test("IN, a coordinate predicate, descending order, a struct not led " +
    "by atom_id, an extra aggregate, DISTINCT and FILTER keep the aggregate") {
    val lead = struct(col("atom_id"), col("x"), col("y"), col("z"))
    val cases: Seq[DataFrame => DataFrame] = Seq(
      gather(_, col("atom_id").isin(1, 2, 3)),
      gather(_, col("atom_id") < 50 && col("x") > 0f),
      _.filter(col("atom_id") < 50).groupBy("frame_id")
        .agg(sort_array(collect_list(lead), asc = false).as("a")),
      _.filter(col("atom_id") < 50).groupBy("frame_id")
        .agg(sort_array(collect_list(struct(col("x"), col("atom_id")))).as("a")),
      _.filter(col("atom_id") < 50).groupBy("frame_id")
        .agg(sort_array(collect_list(lead)).as("a"), max("time").as("t")),
      _.filter(col("atom_id") < 50).groupBy("frame_id")
        .agg(expr("sort_array(collect_list(DISTINCT struct(atom_id, x, y, z)))").as("a")),
      _.groupBy("frame_id").agg(expr("sort_array(collect_list(" +
        "struct(atom_id, x, y, z)) FILTER (WHERE atom_id < 50))").as("a")))
    cases.foreach(check(xtc(fixture), wide = false))
  }

  private def codec(fmt: String, dir: String, extra: (String, String)*)(
      s: SparkSession) =
    s.read.format(fmt).options(CodecFixtures.options(fmt) ++ extra).load(dir)

  private val edges = {
    val n = CodecFixtures.nAtoms
    Seq(0, 1, n - 1, n, n + 5)
  }

  CodecFixtures.formats.foreach { fmt =>
    test(s"$fmt: gathered in the scan, equal to the checkpointed rows' " +
      "gather and pair stats at atom_id < k on the frame's edges") {
      val dir = CodecFixtures.dir(fmt, shards = 2, frames = 3)
      for (k <- edges)
        check(codec(fmt, dir), wide = true)(gather(_, col("atom_id") < k))
    }
  }

  CodecFixtures.modeFormats.foreach { fmt =>
    test(s"$fmt under DROPMALFORMED: the gather skips the dropped " +
      "records exactly as the checkpointed rows do") {
      val dir = CodecFixtures.malformedDir(fmt)
      for (k <- edges)
        check(codec(fmt, dir, "mode" -> "DROPMALFORMED"), wide = true)(
          gather(_, col("atom_id") < k))
    }
  }
}
