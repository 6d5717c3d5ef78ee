package graft.traj

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pure-Column geometry operator library — the Spark re-expression of the
  * reference's per-chunk numpy/SSE kernels. Everything here is a Catalyst
  * expression tree: whole-stage codegen'd, no UDFs, no driver-side math
  * (SURVEY §2.9 preference order, level 1).
  *
  * Reference kernels re-expressed:
  *  - Euclidean distance / displacement:
  *    `/root/reference/dask_traj/geometry/distance.py:15-66,148-199`
  *  - orthorhombic minimum-image convention (periodic) distance:
  *    `/root/reference/dask_traj/geometry/distance.py:50-58` (the
  *    `_distance_mic` orthogonal fast path)
  *  - angle between displacement vectors:
  *    `/root/reference/dask_traj/geometry/angle.py:10-55,142-176`
  *  - box lengths/angles ⇄ Bravais vectors:
  *    `/root/reference/dask_traj/utils/validation.py:146-292`
  *
  * Determinism: squares are spelled `d*d` (not pow) and every public
  * result is rounded to 6 decimals so Spark and DuckDB agree bit-for-bit
  * (SURVEY §7.2).
  */
object TrajOps {

  /** Squared L2 norm of a 3-vector. */
  def norm2(x: Column, y: Column, z: Column): Column =
    x * x + y * y + z * z

  /** Euclidean distance between two points (distance.py:59-66 numpy
    * path: sqrt of sum of squared deltas). */
  def dist(x1: Column, y1: Column, z1: Column,
           x2: Column, y2: Column, z2: Column): Column =
    sqrt(norm2(x1 - x2, y1 - y2, z1 - z2))

  /** One axis of the orthorhombic minimum-image displacement:
    * d - L*round(d/L) folds d into [-L/2, L/2]
    * (distance.py:50-58 orthogonal fast path). */
  def micDelta(delta: Column, boxLen: Column): Column =
    delta - boxLen * round(delta / boxLen, 0)

  /** Periodic (orthorhombic MIC) distance. */
  def distMic(x1: Column, y1: Column, z1: Column,
              x2: Column, y2: Column, z2: Column,
              lx: Column, ly: Column, lz: Column): Column =
    sqrt(norm2(micDelta(x1 - x2, lx), micDelta(y1 - y2, ly),
      micDelta(z1 - z2, lz)))

  /** Angle (radians) at vertex b of triplet (a, b, c): arccos of the
    * normalized dot product of the two displacement vectors
    * (angle.py:142-176 `_angle`). Cosine clamped to [-1, 1] exactly as
    * the reference relies on numpy clipping. */
  def angleRad(ux: Column, uy: Column, uz: Column,
               vx: Column, vy: Column, vz: Column): Column = {
    val cosv = (ux * vx + uy * vy + uz * vz) /
      (sqrt(norm2(ux, uy, uz)) * sqrt(norm2(vx, vy, vz)))
    acos(least(greatest(cosv, lit(-1.0)), lit(1.0)))
  }

  /** Signed torsion (dihedral) angle of the 4-atom stencil with bond
    * vectors b1=(ux,uy,uz), b2=(vx,vy,vz), b3=(wx,wy,wz):
    * atan2(|b2|·(b1·(b2×b3)), (b1×b2)·(b2×b3)) ∈ (−π, π] — the
    * standard mdtraj/Praxeolitic form (the 3-atom angle above is the
    * reference's surface, geometry/angle.py:142-176; the 4-atom form
    * is its natural extension and shares the gather). Every product
    * below is written with the same shape as the oracle SQL so IEEE
    * evaluation is bit-identical before the final round. */
  def dihedralRad(ux: Column, uy: Column, uz: Column,
                  vx: Column, vy: Column, vz: Column,
                  wx: Column, wy: Column, wz: Column): Column = {
    val c1x = uy * vz - uz * vy
    val c1y = uz * vx - ux * vz
    val c1z = ux * vy - uy * vx
    val c2x = vy * wz - vz * wy
    val c2y = vz * wx - vx * wz
    val c2z = vx * wy - vy * wx
    val yv = sqrt(norm2(vx, vy, vz)) * (ux * c2x + uy * c2y + uz * c2z)
    val xv = c1x * c2x + c1y * c2y + c1z * c2z
    atan2(yv, xv)
  }

  /** Near-zero snap used when constructing box vectors
    * (validation.py:224-227: |v| < 1e-6 → 0). */
  def snap(v: Column): Column = when(abs(v) < 1e-6, 0.0).otherwise(v)

  // ------------------------------------------------------- triclinic MIC

  /** Lower-triangular Bravais matrix of a literal box, precomputed
    * driver-side with the same math as [[boxVectors]] (including the
    * 1e-6 snap). The six doubles are embedded as identical literals in
    * BOTH the Spark plan and the DuckDB oracle SQL, so the two engines
    * run bit-identical IEEE arithmetic — no cross-libm trig divergence
    * (SURVEY §7.2). Rows: a = (ax,0,0), b = (bx,by,0), c = (cx,cy,cz). */
  final case class TriBox(ax: Double, bx: Double, by: Double,
      cx: Double, cy: Double, cz: Double)

  def triBox(la: Double, lb: Double, lc: Double,
             alpha: Double, beta: Double, gamma: Double): TriBox = {
    def snapD(v: Double): Double = if (math.abs(v) < 1e-6) 0.0 else v
    val al = math.toRadians(alpha); val be = math.toRadians(beta)
    val ga = math.toRadians(gamma)
    val ax = la
    val bx = lb * math.cos(ga)
    val by = lb * math.sin(ga)
    val cx = lc * math.cos(be)
    val cy = lc * (math.cos(al) - math.cos(be) * math.cos(ga)) / math.sin(ga)
    val cz = math.sqrt(lc * lc - cx * cx - cy * cy)
    TriBox(snapD(ax), snapD(bx), snapD(by), snapD(cx), snapD(cy), snapD(cz))
  }

  /** Codegen'd kernel form of the triclinic MIC distance — ONE static
    * call inside the generated stage (`tri_mic`
    * → GeomKernels.triMic), bit-identical to [[distMicTriclinic]].
    * Requires GraftFunctions.register(spark) (or the GraftExtensions
    * session extension). Use THIS in query plans: the Column-tree form
    * below duplicates the fold chain into all 27 images and overflows
    * janino's 64 KB method limit once it sits inside a CASE branch —
    * the round-2 interpreted-fallback scale-killer. */
  def triMicKernel(dx: Column, dy: Column, dz: Column,
      ax: Column, bx: Column, by: Column,
      cx: Column, cy: Column, cz: Column): Column =
    call_udf("tri_mic", dx, dy, dz, ax, bx, by, cx, cy, cz)

  /** Literal-box convenience overload of [[triMicKernel]]. */
  def triMicKernel(dx: Column, dy: Column, dz: Column, b: TriBox): Column =
    triMicKernel(dx, dy, dz, lit(b.ax), lit(b.bx), lit(b.by),
      lit(b.cx), lit(b.cy), lit(b.cz))

  /** General (triclinic) minimum-image distance — the 27-image form of
    * the reference's `_distance_mic` general path
    * (geometry/distance.py:50-58, delegating to MDTraj's triclinic
    * kernel). Step 1 folds the raw displacement near the origin cell by
    * back-substitution through the lower-triangular box matrix (c row
    * first, then b, then a); step 2 takes the min norm over the 27
    * lattice images of the folded vector — exact because the folded
    * displacement lies within one cell of the minimum image.
    *
    * Kept as the differential-test twin of [[triMicKernel]] (specs
    * assert tree == kernel bit-for-bit); do not embed this tree inside
    * CASE branches in query plans — see [[triMicKernel]]. */
  def distMicTriclinic(dx: Column, dy: Column, dz: Column,
      b: TriBox): Column = {
    val k3 = round(dz / b.cz, 0)
    val dx1 = dx - lit(b.cx) * k3
    val dy1 = dy - lit(b.cy) * k3
    val dz1 = dz - lit(b.cz) * k3
    val k2 = round(dy1 / b.by, 0)
    val dx2 = dx1 - lit(b.bx) * k2
    val dy2 = dy1 - lit(b.by) * k2
    val k1 = round(dx2 / b.ax, 0)
    val wx = dx2 - lit(b.ax) * k1
    val images = for {
      i <- -1 to 1; j <- -1 to 1; k <- -1 to 1
    } yield sqrt(norm2(
      wx + lit(i * b.ax + j * b.bx + k * b.cx),
      dy2 + lit(j * b.by + k * b.cy),
      dz1 + lit(k * b.cz)))
    least(images: _*)
  }

  /** DuckDB twin of [[distMicTriclinic]]: SQL CTE chain over a deltas
    * relation carrying (dx, dy, dz). Same literals, same operation
    * order → bit-identical doubles. `fromDeltas` must be a CTE name
    * whose rows have columns (frame_id, a1, a2, dx, dy, dz). */
  def distMicTriclinicSql(b: TriBox, fromDeltas: String): String = {
    val images = (for {
      i <- -1 to 1; j <- -1 to 1; k <- -1 to 1
    } yield {
      val ox = i * b.ax + j * b.bx + k * b.cx
      val oy = j * b.by + k * b.cy
      val oz = k * b.cz
      s"sqrt((wx + $ox)*(wx + $ox) + (wy + $oy)*(wy + $oy)" +
        s" + (wz + $oz)*(wz + $oz))"
    }).mkString("least(", ",\n      ", ")")
    s"""tri_k3 AS (
       |  SELECT frame_id, a1, a2, dx, dy, dz,
       |    round(dz / ${b.cz}, 0) AS k3
       |  FROM $fromDeltas),
       |tri_c AS (
       |  SELECT frame_id, a1, a2,
       |    dx - ${b.cx} * k3 AS dx1, dy - ${b.cy} * k3 AS dy1,
       |    dz - ${b.cz} * k3 AS dz1
       |  FROM tri_k3),
       |tri_b AS (
       |  SELECT frame_id, a1, a2,
       |    dx1 - ${b.bx} * round(dy1 / ${b.by}, 0) AS dx2,
       |    dy1 - ${b.by} * round(dy1 / ${b.by}, 0) AS wy,
       |    dz1 AS wz
       |  FROM tri_c),
       |tri_w AS (
       |  SELECT frame_id, a1, a2,
       |    dx2 - ${b.ax} * round(dx2 / ${b.ax}, 0) AS wx, wy, wz
       |  FROM tri_b),
       |tri_d AS (
       |  SELECT frame_id, a1, a2,
       |    $images AS dist
       |  FROM tri_w)""".stripMargin
  }

  /** (a,b,c,α,β,γ) → 3×3 Bravais vectors (validation.py:146-229).
    * Returns the 9 components as named columns v.{a,b,c}{x,y,z}. */
  def boxVectors(a: Column, b: Column, c: Column,
                 alpha: Column, beta: Column, gamma: Column)
      : Seq[(String, Column)] = {
    val al = radians(alpha); val be = radians(beta); val ga = radians(gamma)
    val ax = a
    val bx = b * cos(ga)
    val by = b * sin(ga)
    val cx = c * cos(be)
    val cy = c * (cos(al) - cos(be) * cos(ga)) / sin(ga)
    val cz = sqrt(c * c - cx * cx - cy * cy)
    Seq(
      "vax" -> snap(ax), "vay" -> lit(0.0), "vaz" -> lit(0.0),
      "vbx" -> snap(bx), "vby" -> snap(by), "vbz" -> lit(0.0),
      "vcx" -> snap(cx), "vcy" -> snap(cy), "vcz" -> snap(cz))
  }

  /** 3×3 Bravais vectors → (a,b,c,α,β,γ) in degrees
    * (validation.py:232-292: norms + arccos of pairwise dots). */
  def vectorsToBox(vax: Column, vay: Column, vaz: Column,
                   vbx: Column, vby: Column, vbz: Column,
                   vcx: Column, vcy: Column, vcz: Column)
      : Seq[(String, Column)] = {
    val na = sqrt(norm2(vax, vay, vaz))
    val nb = sqrt(norm2(vbx, vby, vbz))
    val nc = sqrt(norm2(vcx, vcy, vcz))
    def ang(dot: Column, n1: Column, n2: Column): Column =
      degrees(acos(least(greatest(dot / (n1 * n2), lit(-1.0)), lit(1.0))))
    Seq(
      "r_a" -> na, "r_b" -> nb, "r_c" -> nc,
      "r_alpha" -> ang(vbx * vcx + vby * vcy + vbz * vcz, nb, nc),
      "r_beta" -> ang(vax * vcx + vay * vcy + vaz * vcz, na, nc),
      "r_gamma" -> ang(vax * vbx + vay * vby + vaz * vbz, na, nb))
  }
}
