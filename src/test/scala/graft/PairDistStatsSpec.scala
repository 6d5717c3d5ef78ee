package graft

import graft.functions.{GeomKernels, GraftFunctions}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PairDistStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("pair_dist_stats == HOF-composed all-pairs form (sum/min/max/" +
    "count) on hand-size frames") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val frames = Seq(
      (Array(0f, 3f, 0f), Array(0f, 0f, 4f), Array(0f, 0f, 0f)),
      (Array(1f, 1f, 2f, 5f), Array(1f, 1f, 2f, 5f),
        Array(1f, 1f, 2f, 5f)))
    val df = frames.toDF("xs", "ys", "zs")
    val k = df.select(expr("pair_dist_stats(xs, ys, zs)").as("st"))
      .select("st.sum", "st.mn", "st.mx", "st.cnt")
      .collect().map(r => (r.getDouble(0), r.getDouble(1),
        r.getDouble(2), r.getLong(3)))
    // frame 1: atoms (0,0,0),(3,0,0),(0,4,0): dists 3,4,5
    assert(math.abs(k(0)._1 - 12.0) < 1e-12)
    assert(k(0)._2 == 3.0 && k(0)._3 == 5.0 && k(0)._4 == 3L)
    // frame 2: duplicate atoms give a 0 min; C(4,2) = 6 pairs
    assert(k(1)._2 == 0.0 && k(1)._4 == 6L)
    // differential twin: explode-based SQL form
    val sql = df.select(posexplode(col("xs")).as(Seq("i", "xi")),
      col("xs"), col("ys"), col("zs"))
      .select(col("i"), col("xs"), col("ys"), col("zs"))
      .withColumn("j", explode(expr(
        "CASE WHEN i + 1 <= size(xs) - 1 " +
          "THEN sequence(i + 1, size(xs) - 1) " +
          "ELSE array() END")))
      .select(sqrt(
        pow(expr("xs[j]") - expr("xs[i]"), 2) +
          pow(expr("ys[j]") - expr("ys[i]"), 2) +
          pow(expr("zs[j]") - expr("zs[i]"), 2)).as("d"))
      .agg(sum("d"), min("d"), max("d"), count(lit(1)))
      .collect()(0)
    val totalSum = k.map(_._1).sum
    assert(math.abs(sql.getDouble(0) - totalSum) < 1e-9)
    assert(sql.getDouble(1) == k.map(_._2).min)
    assert(sql.getDouble(2) == k.map(_._3).max)
    assert(sql.getLong(3) == k.map(_._4).sum)
  }

  /** The pair-by-pair loop the column-accumulator kernel replaced:
    * the reference every kernel result is compared with. */
  private def byPair(xs: Array[Float], ys: Array[Float], zs: Array[Float])
      : (Double, Double, Double, Long) = {
    val n = xs.length
    val x = xs.map(_.toDouble); val y = ys.map(_.toDouble)
    val z = zs.map(_.toDouble)
    var sum = 0.0
    var mn = Double.MaxValue
    var mx = Double.MinValue
    var cnt = 0L
    var i = 0
    while (i < n) {
      var j = i + 1
      val xi = x(i); val yi = y(i); val zi = z(i)
      while (j < n) {
        val dx = x(j) - xi; val dy = y(j) - yi; val dz = z(j) - zi
        val d = math.sqrt(dx * dx + dy * dy + dz * dz)
        sum += d
        if (d < mn) mn = d
        if (d > mx) mx = d
        cnt += 1
        j += 1
      }
      i += 1
    }
    (sum, if (cnt == 0) 0.0 else mn, if (cnt == 0) 0.0 else mx, cnt)
  }

  private def kernel(xs: Array[Float], ys: Array[Float], zs: Array[Float])
      : (Double, Double, Double, Long) = {
    val r = GeomKernels.pairDistStats(UnsafeArrayData.fromPrimitiveArray(xs),
      UnsafeArrayData.fromPrimitiveArray(ys), UnsafeArrayData.fromPrimitiveArray(zs))
    (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getLong(3))
  }

  private val sizes = Seq(0, 1, 2, 3, 9, 10, 17, 500)

  /** Seeded frames of each size: uniform, with duplicate atoms, a tight
    * cluster (neighbouring floats around 1.0) and coordinates near ±1e30. */
  private def frames(seed: Long): Seq[(String, Array[Float], Array[Float], Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    def axis(n: Int, f: => Float) = Array.fill(n)(f)
    sizes.flatMap { n =>
      val dupIdx = Array.fill(n)(rnd.nextInt(math.max(1, n / 3)))
      val dup = Array.fill(3)(axis(n, rnd.nextFloat() * 100f))
      Seq(
        (s"uniform n=$n", axis(n, rnd.nextFloat() * 100f - 50f),
          axis(n, rnd.nextFloat() * 100f - 50f), axis(n, rnd.nextFloat() * 100f - 50f)),
        (s"duplicates n=$n", dupIdx.map(dup(0)), dupIdx.map(dup(1)), dupIdx.map(dup(2))),
        (s"cluster n=$n", axis(n, 1f + rnd.nextInt(4) * Math.ulp(1f)),
          axis(n, 1f + rnd.nextInt(4) * Math.ulp(1f)), axis(n, 1f)),
        (s"1e30 n=$n", axis(n, (if (rnd.nextBoolean()) 1e30f else -1e30f) * (1f + rnd.nextFloat())),
          axis(n, 1e30f * rnd.nextFloat()), axis(n, -1e30f * rnd.nextFloat())))
    }
  }

  test("column-accumulator kernel == pair-by-pair loop: cnt, mn and mx " +
    "exact, sum within 1e-12 relative, on seeded frames") {
    for (seed <- 1L to 3L; (name, xs, ys, zs) <- frames(seed)) {
      val (ks, kmn, kmx, kc) = kernel(xs, ys, zs)
      val (rs, rmn, rmx, rc) = byPair(xs, ys, zs)
      val clue = s"seed $seed, $name: kernel ${(ks, kmn, kmx, kc)} vs ${(rs, rmn, rmx, rc)}"
      assert(kc == rc && kmn == rmn && kmx == rmx, clue)
      assert(math.abs(ks - rs) <= 1e-12 * math.max(math.abs(ks), math.abs(rs)), clue)
    }
  }

  test("frames with a NaN, +inf or -inf coordinate return the pair-by-pair " +
    "loop's four values exactly") {
    def same(a: Double, b: Double) = a == b || (a.isNaN && b.isNaN)
    val rnd = new scala.util.Random(7)
    for (n <- sizes.filter(_ > 0); bad <- Seq(Float.NaN, Float.PositiveInfinity,
        Float.NegativeInfinity); axis <- 0 until 3; k <- Seq(1, 2)) {
      val xyz = Array.fill(3)(Array.fill(n)(rnd.nextFloat() * 10f))
      for (_ <- 0 until k) xyz(axis)(rnd.nextInt(n)) = bad
      val (ks, kmn, kmx, kc) = kernel(xyz(0), xyz(1), xyz(2))
      val (rs, rmn, rmx, rc) = byPair(xyz(0), xyz(1), xyz(2))
      assert(same(ks, rs) && same(kmn, rmn) && same(kmx, rmx) && kc == rc,
        s"n=$n, $bad x$k on axis $axis: ${(ks, kmn, kmx, kc)} vs ${(rs, rmn, rmx, rc)}")
    }
  }
}
