package graft.trajbench

import java.util.SplittableRandom

/** Seeded synthetic trajectory shared by the traj_ref and traj_formats
  * workloads. Atoms form polymer-like chains: each chain is a random walk
  * with bonded neighbours 0.15 nm apart, started at a random point of a
  * periodic cubic box. Every frame adds a slow per-chain drift plus
  * per-atom thermal jitter and wraps the result into the box, so
  * consecutive atoms stay close in space (the locality XTC's
  * compression relies on) while frames differ.
  *
  * Frame `f` is a pure function of (seed, f): frames are generated on
  * demand and never all held in memory. */
final class TrajGen(seed: Long, val frames: Int, val atoms: Int) {
  val box: Float = 6.1f // nm; ~100 atoms/nm^3 for the 22,561-atom system
  private val chainLen = 100
  private val bond = 0.15
  private val jitter = 0.02

  private val base: Array[Float] = {
    val rnd = new SplittableRandom(seed)
    val xyz = new Array[Float](3 * atoms)
    var a = 0
    var px, py, pz = 0.0
    while (a < atoms) {
      if (a % chainLen == 0) {
        px = rnd.nextDouble() * box; py = rnd.nextDouble() * box
        pz = rnd.nextDouble() * box
      } else {
        // uniform direction on the sphere, one bond length away
        val u = 2 * rnd.nextDouble() - 1
        val phi = 2 * math.Pi * rnd.nextDouble()
        val r = math.sqrt(1 - u * u)
        px += bond * r * math.cos(phi); py += bond * r * math.sin(phi)
        pz += bond * u
      }
      xyz(3 * a) = px.toFloat; xyz(3 * a + 1) = py.toFloat
      xyz(3 * a + 2) = pz.toFloat
      a += 1
    }
    xyz
  }

  private def wrap(v: Double): Float = {
    val w = v - box * math.floor(v / box)
    (if (w >= box) 0.0 else w).toFloat
  }

  /** Coordinates (nm, x0,y0,z0,x1,...) of the first `n` atoms of frame `f`. */
  def frame(f: Int, n: Int = atoms): Array[Float] = {
    val rnd = new SplittableRandom(seed * 1000003L + f)
    val out = new Array[Float](3 * n)
    var a = 0
    var dx, dy, dz = 0.0
    while (a < n) {
      if (a % chainLen == 0) {
        val t = 0.01 * f
        val c = a / chainLen
        dx = t * math.sin(c + 1.0); dy = t * math.cos(c + 2.0)
        dz = t * math.sin(0.5 * c + 3.0)
      }
      out(3 * a) = wrap(base(3 * a) + dx + jitter * rnd.nextGaussian())
      out(3 * a + 1) = wrap(base(3 * a + 1) + dy + jitter * rnd.nextGaussian())
      out(3 * a + 2) = wrap(base(3 * a + 2) + dz + jitter * rnd.nextGaussian())
      a += 1
    }
    out
  }
}

object TrajGen {

  /** Result of the plain single-threaded reference pass. */
  final case class PairStats(nDists: Long, sum: Double, min: Double,
      max: Double, seconds: Double)

  /** All C(n,2) distances between the first `n` atoms of every frame,
    * on coordinates quantized to `precision` like XTC stores them, in
    * one plain JVM loop: the expected answer of the traj_ref op and the
    * serial baseline it is compared with. */
  def serialPairStats(g: TrajGen, n: Int, precision: Float): PairStats = {
    val t0 = System.nanoTime()
    var cnt = 0L
    var sum = 0.0
    var mn = Double.MaxValue
    var mx = Double.MinValue
    val xs, ys, zs = new Array[Double](n)
    var f = 0
    while (f < g.frames) {
      val xyz = g.frame(f, n)
      var a = 0
      while (a < n) {
        xs(a) = math.round(xyz(3 * a) * precision) / precision.toDouble
        ys(a) = math.round(xyz(3 * a + 1) * precision) / precision.toDouble
        zs(a) = math.round(xyz(3 * a + 2) * precision) / precision.toDouble
        a += 1
      }
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val dx = xs(i) - xs(j); val dy = ys(i) - ys(j); val dz = zs(i) - zs(j)
          val d = math.sqrt(dx * dx + dy * dy + dz * dz)
          sum += d
          if (d < mn) mn = d
          if (d > mx) mx = d
          j += 1
        }
        i += 1
      }
      cnt += n.toLong * (n - 1) / 2
      f += 1
    }
    PairStats(cnt, sum, mn, mx, (System.nanoTime() - t0) / 1e9)
  }

  /** Row count and coordinate checksum (sum of x + 2y + 3z over every
    * row) of frames `[f0, f1)` restricted to atoms below `atomMax`. */
  def checksum(g: TrajGen, f0: Int, f1: Int, atomMax: Int): (Long, Double) = {
    val n = math.min(atomMax, g.atoms)
    var s = 0.0
    var f = f0
    while (f < f1) {
      val xyz = g.frame(f, n)
      var i = 0
      while (i < n) {
        s += xyz(3 * i) + 2.0 * xyz(3 * i + 1) + 3.0 * xyz(3 * i + 2)
        i += 1
      }
      f += 1
    }
    ((f1 - f0).toLong * n, s)
  }

  /** GROMACS .gro text (fixed-width, 0.001 nm) written by the
    * benchmark itself: one title/count/atoms/box block per frame. */
  def writeGro(path: String, g: TrajGen): Unit = {
    val w = new java.io.BufferedWriter(new java.io.FileWriter(path), 1 << 20)
    try {
      var f = 0
      while (f < g.frames) {
        w.write(s"synthetic polymer t= $f.00000\n${g.atoms}\n")
        val xyz = g.frame(f)
        var a = 0
        while (a < g.atoms) {
          w.write(String.format(java.util.Locale.ROOT,
            "%5d%-5s%5s%5d%8.3f%8.3f%8.3f\n", Int.box((a / 100 + 1) % 100000), "PLY",
            "C", Int.box((a + 1) % 100000), Double.box(xyz(3 * a)),
            Double.box(xyz(3 * a + 1)), Double.box(xyz(3 * a + 2))))
          a += 1
        }
        w.write(String.format(java.util.Locale.ROOT, "%10.5f%10.5f%10.5f\n",
          Double.box(g.box), Double.box(g.box), Double.box(g.box)))
        f += 1
      }
    } finally w.close()
  }
}
