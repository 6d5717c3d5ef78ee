package graft.traj

import graft.QueryDef
import graft.traj.TrajOps._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Trajectory operator queries — reference-semantics parity, oracle
  * checked (SURVEY §2 rows F1–F6, A1–A3, J1–J3, W1–W2).
  *
  * Plan shape shared by the pair/triplet queries: `positions` is
  * computed ONCE per query behind a lineage barrier
  * (TrajModel.positionsShared) and each join role is a cheap projection
  * of that one instance — the analog of the reference computing xyz once
  * and slicing per chunk (core/dask_traj.py:406-416). The tiny index
  * list joins as a broadcast — the Spark analog of the reference
  * capturing atom_pairs into every chunk task
  * (geometry/distance.py:131-141). The only shuffles are the keyed
  * aggregation building `positions` and the final orderBy; frame×pair
  * expansion itself is shuffle-free, so the plan scales linearly in
  * frames like the reference's chunk loop.
  */
object TrajQueries {

  private val P = TrajModel.positionsSql

  /** Project one join role out of a shared positions instance: all
    * roles reference the same materialized subplan. */
  private def role(p: DataFrame, alias: String): DataFrame =
    p.select(
      col("frame_id").as(s"${alias}_frame"),
      col("atom_id").as(s"${alias}_atom"),
      col("x").as(s"${alias}x"),
      col("y").as(s"${alias}y"),
      col("z").as(s"${alias}z"))

  /** pairs ⋈ positions(p) ⋈ positions(q): the frame×pair expansion
    * subplan shared by every pairwise geometry query (J2). The pair
    * list is literal, so each positions role is pre-filtered to the
    * referenced atom ids — the Spark-side twin of the oracle's posq CTE
    * (TrajModel.pairsSql) and of the reference gathering only the
    * atoms the pair list names (geometry/distance.py:131-141). Without
    * it the static plan runs positions-sized sort-merge joins that only
    * AQE rescues at runtime; with it every join input is
    * |atoms(pairs)| × n_frames rows and broadcasts. */
  private def pairExpansion(s: SparkSession, p: DataFrame): DataFrame = {
    val atomIds = TrajModel.pairs.flatMap { case (a, b) => Seq(a, b) }
      .distinct.sorted
    val pf = p.filter(col("atom_id").isin(atomIds: _*))
    // The ONLY forced broadcast is the 10-row pair list — the analog of
    // the reference capturing atom_pairs into every chunk task
    // (geometry/distance.py:131-141). The positions roles carry the
    // frame axis (|atoms(pairs)| × n_frames rows), and frames are
    // exactly the axis that grows without bound at 100 TB, so they are
    // never hinted: the roles meet in a frame-co-partitioned equi-join
    // on (atom_id, frame_id) — both sides shuffle by the same key and
    // collocate, scaling linearly in frames — and AQE is free to
    // downgrade it to a runtime broadcast when the actual scan is tiny
    // (a stats-gated decision, not a forced one). PlanShapeSpec pins
    // this rule: no BroadcastExchange in the suite may carry a frame
    // column.
    role(pf, "p")
      .join(broadcast(TrajModel.pairsDf(s)), col("p_atom") === col("a1"))
      .join(role(pf, "q"), col("q_atom") === col("a2") &&
        col("p_frame") === col("q_frame"))
  }

  private val pairExpansionSql =
    """FROM pairs
      |JOIN posq p1 ON p1.atom_id = a1
      |JOIN posq p2 ON p2.atom_id = a2 AND p2.frame_id = p1.frame_id"""
      .stripMargin

  /** F1: per-(frame, pair) Euclidean distance (distance.py:15-66). */
  /** Per-frame ALL-PAIRS distance statistics over the first 100 atoms
    * via the `pair_dist_stats` kernel (one call evaluates all C(n,2)
    * distances per frame — the RefWorkloadBench hot loop, here under
    * the oracle gate). Emitted columns are the selection/count outputs
    * (min, max, n_pairs): both engines form each squared distance with
    * the identical IEEE expression (floats widened to double,
    * dx·dx+dy·dy+dz·dz left-to-right). The oracle takes min/max over
    * the per-pair sqrt; the kernel selects the least/greatest squared
    * distance and takes one sqrt, which is the same double because
    * sqrt is monotone and correctly rounded. The kernel's double SUM is
    * reduction-order-dependent and deliberately not emitted. */
  def trajPairStats(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    TrajModel.positionsShared(s, d)
      .filter(col("atom_id") <= 100)
      .select(col("frame_id"), col("atom_id"),
        col("x").cast("float").as("fx"), col("y").cast("float").as("fy"),
        col("z").cast("float").as("fz"))
      .groupBy("frame_id")
      .agg(sort_array(collect_list(struct(col("atom_id"), col("fx"),
        col("fy"), col("fz")))).as("a"))
      .select(col("frame_id"), expr("pair_dist_stats(" +
        "transform(a, s -> s.fx), transform(a, s -> s.fy), " +
        "transform(a, s -> s.fz))").as("st"))
      .select(col("frame_id"), col("st.cnt").as("n_pairs"),
        col("st.mn").as("min_dist"), col("st.mx").as("max_dist"))
      .orderBy("frame_id")
  }

  private val trajPairStatsSql =
    s"""$P,
      |pf AS (
      |  SELECT frame_id, atom_id,
      |    CAST(CAST(x AS REAL) AS DOUBLE) AS x,
      |    CAST(CAST(y AS REAL) AS DOUBLE) AS y,
      |    CAST(CAST(z AS REAL) AS DOUBLE) AS z
      |  FROM positions WHERE atom_id <= 100),
      |dists AS (
      |  SELECT p1.frame_id,
      |    sqrt((p2.x - p1.x) * (p2.x - p1.x) +
      |         (p2.y - p1.y) * (p2.y - p1.y) +
      |         (p2.z - p1.z) * (p2.z - p1.z)) AS d
      |  FROM pf p1 JOIN pf p2
      |    ON p2.frame_id = p1.frame_id AND p2.atom_id > p1.atom_id)
      |SELECT frame_id, CAST(count(*) AS BIGINT) AS n_pairs,
      |  min(d) AS min_dist, max(d) AS max_dist
      |FROM dists GROUP BY frame_id ORDER BY frame_id""".stripMargin

  def trajDistances(s: SparkSession, d: String): DataFrame =
    pairExpansion(s, TrajModel.positionsShared(s, d))
      .select(col("p_frame").as("frame_id"), col("a1"), col("a2"),
        round(dist(col("px"), col("py"), col("pz"),
          col("qx"), col("qy"), col("qz")), 6).as("dist"))
      .orderBy("frame_id", "a1", "a2")

  private val trajDistancesSql =
    s"""$P, ${TrajModel.pairsSql}
       |SELECT p1.frame_id AS frame_id, a1, a2,
       |  round(sqrt((p1.x-p2.x)*(p1.x-p2.x) + (p1.y-p2.y)*(p1.y-p2.y)
       |             + (p1.z-p2.z)*(p1.z-p2.z)), 6) AS dist
       |$pairExpansionSql
       |ORDER BY frame_id, a1, a2""".stripMargin

  /** F1 on the WIDE layout (J2's alternate strategy): per-frame
    * atom-map gather instead of the pair-expansion join — the Catalyst
    * form of the reference gathering xyz[:, pairs] out of the wide
    * per-frame array (geometry/distance.py:131-141). One shuffle (the
    * frame grouping), then per-row element_at probes against the
    * broadcast-free literal pair list; same values as
    * [[trajDistances]], same oracle. A pair row is emitted only when
    * BOTH atoms exist in the frame (non-null probes), matching the
    * inner joins of the long path. */
  def trajDistancesWide(s: SparkSession, d: String): DataFrame = {
    val atomIds = TrajModel.pairs.flatMap { case (a, b) => Seq(a, b) }
      .distinct.sorted
    val pairsArr = array(TrajModel.pairs.map { case (a, b) =>
      struct(lit(a).as("a1"), lit(b).as("a2"))
    }: _*)
    TrajDataset.atomMap(
        TrajModel.positionsShared(s, d)
          .filter(col("atom_id").isin(atomIds: _*)))
      .select(col("frame_id"), explode(pairsArr).as("p"), col("atoms"))
      .select(col("frame_id"), col("p.a1").as("a1"), col("p.a2").as("a2"),
        element_at(col("atoms"), col("p.a1")).as("c1"),
        element_at(col("atoms"), col("p.a2")).as("c2"))
      .filter(col("c1").isNotNull && col("c2").isNotNull)
      .select(col("frame_id"), col("a1"), col("a2"),
        round(dist(col("c1.x"), col("c1.y"), col("c1.z"),
          col("c2.x"), col("c2.y"), col("c2.z")), 6).as("dist"))
      .orderBy("frame_id", "a1", "a2")
  }

  /** F3 on the WIDE layout: the triplet gather runs as three per-row
    * map probes against the per-frame atom map — the same
    * positional-gather strategy as [[trajDistancesWide]], extended to
    * the 3-atom stencil (the reference gathers xyz[:, triplets] out of
    * the wide frame array the same way, geometry/angle.py:58-107).
    * A triplet row is emitted only when all three atoms exist in the
    * frame (non-null probes = the inner joins of the long path), and
    * zero-length displacement rows are filtered like [[trajAngles]].
    * Same values, same oracle as the long form. */
  def trajAnglesWide(s: SparkSession, d: String): DataFrame = {
    val atomIds = TrajModel.triplets
      .flatMap { case (a, b, c) => Seq(a, b, c) }.distinct.sorted
    val tripArr = array(TrajModel.triplets.map { case (a, b, c) =>
      struct(lit(a).as("ai"), lit(b).as("aj"), lit(c).as("ak"))
    }: _*)
    val ux = col("ca.x") - col("cb.x"); val uy = col("ca.y") - col("cb.y")
    val uz = col("ca.z") - col("cb.z")
    val vx = col("cc.x") - col("cb.x"); val vy = col("cc.y") - col("cb.y")
    val vz = col("cc.z") - col("cb.z")
    TrajDataset.atomMap(
        TrajModel.positionsShared(s, d)
          .filter(col("atom_id").isin(atomIds: _*)))
      .select(col("frame_id"), explode(tripArr).as("t"), col("atoms"))
      .select(col("frame_id"), col("t.ai").as("ai"), col("t.aj").as("aj"),
        col("t.ak").as("ak"),
        element_at(col("atoms"), col("t.ai")).as("ca"),
        element_at(col("atoms"), col("t.aj")).as("cb"),
        element_at(col("atoms"), col("t.ak")).as("cc"))
      .filter(col("ca").isNotNull && col("cb").isNotNull &&
        col("cc").isNotNull)
      .filter(norm2(ux, uy, uz) > 0 && norm2(vx, vy, vz) > 0)
      .select(col("frame_id"), col("ai"), col("aj"), col("ak"),
        round(angleRad(ux, uy, uz, vx, vy, vz), 6).as("angle_rad"))
      .orderBy("frame_id", "ai", "aj", "ak")
  }

  /** F6 (fast path): periodic distance under an orthorhombic 6×6×6 box —
    * the reference's orthogonal MIC fast path (distance.py:50-58). */
  def trajDistancesPeriodic(s: SparkSession, d: String): DataFrame = {
    val box = lit(6.0)
    pairExpansion(s, TrajModel.positionsShared(s, d))
      .select(col("p_frame").as("frame_id"), col("a1"), col("a2"),
        round(distMic(col("px"), col("py"), col("pz"),
          col("qx"), col("qy"), col("qz"), box, box, box), 6)
          .as("dist_mic"))
      .orderBy("frame_id", "a1", "a2")
  }

  private val trajDistancesPeriodicSql =
    s"""$P, ${TrajModel.pairsSql}
       |SELECT p1.frame_id AS frame_id, a1, a2,
       |  round(sqrt(
       |    ((p1.x-p2.x) - 6.0*round((p1.x-p2.x)/6.0, 0))
       |      * ((p1.x-p2.x) - 6.0*round((p1.x-p2.x)/6.0, 0))
       |    + ((p1.y-p2.y) - 6.0*round((p1.y-p2.y)/6.0, 0))
       |      * ((p1.y-p2.y) - 6.0*round((p1.y-p2.y)/6.0, 0))
       |    + ((p1.z-p2.z) - 6.0*round((p1.z-p2.z)/6.0, 0))
       |      * ((p1.z-p2.z) - 6.0*round((p1.z-p2.z)/6.0, 0))), 6) AS dist_mic
       |$pairExpansionSql
       |ORDER BY frame_id, a1, a2""".stripMargin

  /** The triclinic literal box used by the general-MIC queries: lengths
    * 6×7×8, angles 60/60/90 — echoing the reference's own triclinic test
    * fixture (tests/test.pdb CRYST1, FIXTURES.md §A). Vector components
    * are precomputed doubles embedded identically in both engines. */
  private val triclinicBox: TriBox = triBox(6.0, 7.0, 8.0, 60.0, 60.0, 90.0)

  /** F6 (general path): triclinic minimum-image distance — the 27-image
    * form of `_distance_mic`'s general branch (distance.py:50-58),
    * evaluated by the codegen'd tri_mic kernel (one static call per
    * row; the expanded `least(...)` Column tree of round 2 compiled
    * right at janino's 64 KB edge — one doubling from the cliff). */
  def trajDistancesTriclinic(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val dx = col("px") - col("qx")
    val dy = col("py") - col("qy")
    val dz = col("pz") - col("qz")
    pairExpansion(s, TrajModel.positionsShared(s, d))
      .select(col("p_frame").as("frame_id"), col("a1"), col("a2"),
        round(triMicKernel(dx, dy, dz, triclinicBox), 6).as("dist_mic"))
      .orderBy("frame_id", "a1", "a2")
  }

  private val trajDistancesTriclinicSql = {
    val b = triclinicBox
    s"""$P, ${TrajModel.pairsSql},
       |deltas AS (
       |  SELECT p1.frame_id AS frame_id, a1, a2,
       |    p1.x - p2.x AS dx, p1.y - p2.y AS dy, p1.z - p2.z AS dz
       |  $pairExpansionSql),
       |${distMicTriclinicSql(b, "deltas")}
       |SELECT frame_id, a1, a2, round(dist, 6) AS dist_mic
       |FROM tri_d
       |ORDER BY frame_id, a1, a2""".stripMargin
  }

  /** A3/O7: adaptive MIC dispatch — the reference reads the
    * trajectory's unitcell angles per chunk, reduces them to an
    * `orthogonal` flag, and picks the fast or the general kernel at
    * runtime (geometry/distance.py:128,49-58). Here the per-frame box
    * comes from the broadcast `unitcell` dimension (odd frames
    * orthorhombic 6×7×8/90°, even triclinic 6×7×8/60/60/90 — one row
    * per frame, like the reference's unitcell columns), the flag is the
    * same allclose(angles, 90) reduction as a CASE over the relation's
    * angle columns, and the general branch is the codegen'd tri_mic
    * kernel fed the relation's Bravais components — so the dispatch
    * fuses into one whole-stage-codegen projection (round 2's inlined
    * 27-image tree inside the CASE overflowed janino's 64 KB method
    * limit and ran interpreted: 33.7 s, 27% of the bench).
    *
    * The box columns RIDE the pair-expanded relation (attached by
    * TrajModel.cellColumns from the frame column) rather than joining
    * the `unitcell` dimension with a broadcast hint: the unitcell is
    * one row per FRAME, and frames are exactly the axis that grows
    * without bound at 100 TB — a forced broadcast there is a ~100 GB
    * build side at 10⁹ frames. This is also the reference's native
    * layout: unitcell lengths/angles are per-frame trajectory columns
    * (core/dask_traj.py:498-517), delivered by a real source as scan
    * columns (dcd box_a..box_gamma). */
  def trajMicAdaptive(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val dx = col("px") - col("qx")
    val dy = col("py") - col("qy")
    val dz = col("pz") - col("qz")
    val orthogonal = abs(col("u_alpha") - 90.0) < 1e-6 &&
      abs(col("u_beta") - 90.0) < 1e-6 && abs(col("u_gamma") - 90.0) < 1e-6
    val orthoDist = sqrt(norm2(micDelta(dx, col("u_la")),
      micDelta(dy, col("u_lb")), micDelta(dz, col("u_lc"))))
    val expanded = pairExpansion(s, TrajModel.positionsShared(s, d))
    expanded
      .select(col("*") +: TrajModel.cellColumns(col("p_frame")): _*)
      .select(col("p_frame").as("frame_id"), col("a1"), col("a2"),
        round(col("u_alpha"), 1).as("alpha"),
        round(when(orthogonal, orthoDist)
          .otherwise(triMicKernel(dx, dy, dz,
            col("u_ax"), col("u_bx"), col("u_by"),
            col("u_cx"), col("u_cy"), col("u_cz"))), 6)
          .as("dist_mic"))
      .orderBy("frame_id", "a1", "a2")
  }

  private val trajMicAdaptiveSql = {
    val b = triclinicBox
    s"""$P, ${TrajModel.pairsSql},
       |deltas AS (
       |  SELECT p1.frame_id AS frame_id, a1, a2,
       |    p1.x - p2.x AS dx, p1.y - p2.y AS dy, p1.z - p2.z AS dz,
       |    CASE WHEN p1.frame_id % 2 = 1 THEN 90.0 ELSE 60.0 END AS alpha,
       |    CASE WHEN p1.frame_id % 2 = 1 THEN 90.0 ELSE 60.0 END AS beta,
       |    90.0 AS gamma
       |  $pairExpansionSql),
       |${distMicTriclinicSql(b, "deltas")}
       |SELECT d.frame_id AS frame_id, d.a1 AS a1, d.a2 AS a2,
       |  round(d.alpha, 1) AS alpha,
       |  round(CASE WHEN abs(d.alpha - 90.0) < 1e-6
       |              AND abs(d.beta - 90.0) < 1e-6
       |              AND abs(d.gamma - 90.0) < 1e-6
       |    THEN sqrt(
       |      (d.dx - 6.0*round(d.dx/6.0, 0)) * (d.dx - 6.0*round(d.dx/6.0, 0))
       |      + (d.dy - 7.0*round(d.dy/7.0, 0)) * (d.dy - 7.0*round(d.dy/7.0, 0))
       |      + (d.dz - 8.0*round(d.dz/8.0, 0)) * (d.dz - 8.0*round(d.dz/8.0, 0)))
       |    ELSE t.dist END, 6) AS dist_mic
       |FROM deltas d
       |JOIN tri_d t ON t.frame_id = d.frame_id AND t.a1 = d.a1
       |  AND t.a2 = d.a2
       |ORDER BY frame_id, a1, a2""".stripMargin
  }

  /** F2: per-(frame, pair) displacement 3-vector (distance.py:148-199,
    * plain path). */
  def trajDisplacements(s: SparkSession, d: String): DataFrame =
    pairExpansion(s, TrajModel.positionsShared(s, d))
      .select(col("p_frame").as("frame_id"), col("a1"), col("a2"),
        round(col("qx") - col("px"), 6).as("dx"),
        round(col("qy") - col("py"), 6).as("dy"),
        round(col("qz") - col("pz"), 6).as("dz"))
      .orderBy("frame_id", "a1", "a2")

  private val trajDisplacementsSql =
    s"""$P, ${TrajModel.pairsSql}
       |SELECT p1.frame_id AS frame_id, a1, a2,
       |  round(p2.x - p1.x, 6) AS dx,
       |  round(p2.y - p1.y, 6) AS dy,
       |  round(p2.z - p1.z, 6) AS dz
       |$pairExpansionSql
       |ORDER BY frame_id, a1, a2""".stripMargin

  /** F2 (periodic path): displacements folded per axis into the
    * orthorhombic minimum image — `compute_displacements` has the same
    * {MIC, plain} kernel split as distances (distance.py:148-199). */
  def trajDisplacementsPeriodic(s: SparkSession, d: String): DataFrame =
    pairExpansion(s, TrajModel.positionsShared(s, d))
      .select(col("p_frame").as("frame_id"), col("a1"), col("a2"),
        round(micDelta(col("qx") - col("px"), lit(6.0)), 6).as("dx"),
        round(micDelta(col("qy") - col("py"), lit(6.0)), 6).as("dy"),
        round(micDelta(col("qz") - col("pz"), lit(6.0)), 6).as("dz"))
      .orderBy("frame_id", "a1", "a2")

  private val trajDisplacementsPeriodicSql =
    s"""$P, ${TrajModel.pairsSql}
       |SELECT p1.frame_id AS frame_id, a1, a2,
       |  round((p2.x-p1.x) - 6.0*round((p2.x-p1.x)/6.0, 0), 6) AS dx,
       |  round((p2.y-p1.y) - 6.0*round((p2.y-p1.y)/6.0, 0), 6) AS dy,
       |  round((p2.z-p1.z) - 6.0*round((p2.z-p1.z)/6.0, 0), 6) AS dz
       |$pairExpansionSql
       |ORDER BY frame_id, a1, a2""".stripMargin

  /** F3: per-(frame, triplet) angle in radians (angle.py:10-55). Rows
    * where either displacement vector is zero-length are filtered in
    * both engines (the reference would emit NaN there). */
  def trajAngles(s: SparkSession, d: String): DataFrame = {
    val atomIds = TrajModel.triplets
      .flatMap { case (a, b, c) => Seq(a, b, c) }.distinct.sorted
    val p = TrajModel.positionsShared(s, d)
      .filter(col("atom_id").isin(atomIds: _*)) // post-CTE twin
    val ux = col("ax") - col("bx"); val uy = col("ay") - col("by")
    val uz = col("az") - col("bz")
    val vx = col("cx") - col("bx"); val vy = col("cy") - col("by")
    val vz = col("cz") - col("bz")
    // Same broadcast discipline as pairExpansion: the 5-row triplet
    // list is the only forced broadcast; the three positions roles
    // (frame-axis relations) meet in (atom_id, frame_id)-co-partitioned
    // equi-joins.
    role(p, "a")
      .join(broadcast(TrajModel.tripletsDf(s)), col("a_atom") === col("ai"))
      .join(role(p, "b"), col("b_atom") === col("aj") &&
        col("a_frame") === col("b_frame"))
      .join(role(p, "c"), col("c_atom") === col("ak") &&
        col("a_frame") === col("c_frame"))
      .filter(norm2(ux, uy, uz) > 0 && norm2(vx, vy, vz) > 0)
      .select(col("a_frame").as("frame_id"), col("ai"), col("aj"),
        col("ak"),
        round(angleRad(ux, uy, uz, vx, vy, vz), 6).as("angle_rad"))
      .orderBy("frame_id", "ai", "aj", "ak")
  }

  private val trajAnglesSql =
    s"""$P, ${TrajModel.tripletsSql}
       |SELECT pa.frame_id AS frame_id, ai, aj, ak,
       |  round(acos(least(greatest(
       |    ((pa.x-pb.x)*(pc.x-pb.x) + (pa.y-pb.y)*(pc.y-pb.y)
       |      + (pa.z-pb.z)*(pc.z-pb.z))
       |    / (sqrt((pa.x-pb.x)*(pa.x-pb.x) + (pa.y-pb.y)*(pa.y-pb.y)
       |            + (pa.z-pb.z)*(pa.z-pb.z))
       |       * sqrt((pc.x-pb.x)*(pc.x-pb.x) + (pc.y-pb.y)*(pc.y-pb.y)
       |              + (pc.z-pb.z)*(pc.z-pb.z))), -1.0), 1.0)), 6)
       |    AS angle_rad
       |FROM triplets
       |JOIN post pa ON pa.atom_id = ai
       |JOIN post pb ON pb.atom_id = aj AND pb.frame_id = pa.frame_id
       |JOIN post pc ON pc.atom_id = ak AND pc.frame_id = pa.frame_id
       |WHERE (pa.x-pb.x)*(pa.x-pb.x) + (pa.y-pb.y)*(pa.y-pb.y)
       |        + (pa.z-pb.z)*(pa.z-pb.z) > 0
       |  AND (pc.x-pb.x)*(pc.x-pb.x) + (pc.y-pb.y)*(pc.y-pb.y)
       |        + (pc.z-pb.z)*(pc.z-pb.z) > 0
       |ORDER BY frame_id, ai, aj, ak""".stripMargin

  /** F3-ext: per-(frame, quadruplet) SIGNED torsion angle in (−π, π]
    * (TrajOps.dihedralRad — the 4-atom extension of the reference's
    * 3-atom stencil, geometry/angle.py:58-107). Same plan shape as
    * trajAngles: the 5-row quadruplet list is the only forced
    * broadcast; the four positions roles meet in (atom_id, frame_id)
    * co-partitioned equi-joins. Degenerate (zero-length bond) rows are
    * filtered in both engines; `+ 0.0` canonicalizes −0.0 (atan2 of a
    * negative exact zero) so both engines hash identically. */
  def trajDihedrals(s: SparkSession, d: String): DataFrame = {
    val atomIds = TrajModel.quadruplets
      .flatMap { case (a, b, c, e) => Seq(a, b, c, e) }.distinct.sorted
    val p = TrajModel.positionsShared(s, d)
      .filter(col("atom_id").isin(atomIds: _*)) // posd CTE twin
    val ux = col("bx") - col("ax"); val uy = col("by") - col("ay")
    val uz = col("bz") - col("az")
    val vx = col("cx") - col("bx"); val vy = col("cy") - col("by")
    val vz = col("cz") - col("bz")
    val wx = col("dx") - col("cx"); val wy = col("dy") - col("cy")
    val wz = col("dz") - col("cz")
    role(p, "a")
      .join(broadcast(TrajModel.quadrupletsDf(s)), col("a_atom") === col("ai"))
      .join(role(p, "b"), col("b_atom") === col("aj") &&
        col("a_frame") === col("b_frame"))
      .join(role(p, "c"), col("c_atom") === col("ak") &&
        col("a_frame") === col("c_frame"))
      .join(role(p, "d"), col("d_atom") === col("al") &&
        col("a_frame") === col("d_frame"))
      .filter(norm2(ux, uy, uz) > 0 && norm2(vx, vy, vz) > 0 &&
        norm2(wx, wy, wz) > 0)
      .select(col("a_frame").as("frame_id"), col("ai"), col("aj"),
        col("ak"), col("al"),
        (round(dihedralRad(ux, uy, uz, vx, vy, vz, wx, wy, wz), 6) +
          lit(0.0)).as("dihedral_rad"))
      .orderBy("frame_id", "ai", "aj", "ak", "al")
  }

  private val trajDihedralsSql =
    s"""$P, ${TrajModel.quadrupletsSql},
       |g AS (
       |  SELECT pa.frame_id AS frame_id, ai, aj, ak, al,
       |    pb.x-pa.x AS ux, pb.y-pa.y AS uy, pb.z-pa.z AS uz,
       |    pc.x-pb.x AS vx, pc.y-pb.y AS vy, pc.z-pb.z AS vz,
       |    pd.x-pc.x AS wx, pd.y-pc.y AS wy, pd.z-pc.z AS wz
       |  FROM quads
       |  JOIN posd pa ON pa.atom_id = ai
       |  JOIN posd pb ON pb.atom_id = aj AND pb.frame_id = pa.frame_id
       |  JOIN posd pc ON pc.atom_id = ak AND pc.frame_id = pa.frame_id
       |  JOIN posd pd ON pd.atom_id = al AND pd.frame_id = pa.frame_id
       |  WHERE (pb.x-pa.x)*(pb.x-pa.x) + (pb.y-pa.y)*(pb.y-pa.y)
       |          + (pb.z-pa.z)*(pb.z-pa.z) > 0
       |    AND (pc.x-pb.x)*(pc.x-pb.x) + (pc.y-pb.y)*(pc.y-pb.y)
       |          + (pc.z-pb.z)*(pc.z-pb.z) > 0
       |    AND (pd.x-pc.x)*(pd.x-pc.x) + (pd.y-pc.y)*(pd.y-pc.y)
       |          + (pd.z-pc.z)*(pd.z-pc.z) > 0)
       |SELECT frame_id, ai, aj, ak, al,
       |  round(atan2(
       |    sqrt(vx*vx + vy*vy + vz*vz)
       |      * (ux*(vy*wz - vz*wy) + uy*(vz*wx - vx*wz) + uz*(vx*wy - vy*wx)),
       |    (uy*vz - uz*vy)*(vy*wz - vz*wy) + (uz*vx - ux*vz)*(vz*wx - vx*wz)
       |      + (ux*vy - uy*vx)*(vx*wy - vy*wx)), 6) + 0.0 AS dihedral_rad
       |FROM g
       |ORDER BY frame_id, ai, aj, ak, al""".stripMargin

  /** A1: per-frame weighted mean = center of mass with table-sourced
    * masses from the topology dimension (distance.py:282-337; masses
    * read from topology at :319-320). The reference normalizes masses
    * driver-side before the weighted sum; Σx·m / Σm is the same value
    * computed exactly in DECIMAL, with the topology broadcast-joined the
    * way the reference captures the mass array into each chunk task. */
  def trajCom(s: SparkSession, d: String): DataFrame = {
    def com(c: String) = round(
      sum(col(c).cast(DecimalType(18, 6)) * col("mass")).cast("double") /
        sum(col("mass")).cast("double"), 6).as(s"com_$c")
    TrajModel.positionsShared(s, d)
      .join(broadcast(TrajModel.topologyShared(s, d)), "atom_id")
      .groupBy("frame_id")
      .agg(com("x"), com("y"), com("z"),
        sum(col("mass")).cast("double").as("total_mass"))
      .orderBy("frame_id")
  }

  private val trajComSql = {
    def com(c: String) =
      s"""round(CAST(sum(CAST($c AS DECIMAL(18,6)) * mass) AS DOUBLE)
         |    / CAST(sum(mass) AS DOUBLE), 6) AS com_$c""".stripMargin
    s"""$P, ${TrajModel.topologySql}
       |SELECT frame_id, ${com("x")}, ${com("y")}, ${com("z")},
       |  CAST(sum(mass) AS DOUBLE) AS total_mass
       |FROM positions JOIN topo USING (atom_id)
       |GROUP BY frame_id ORDER BY frame_id""".stripMargin
  }

  /** A1 at residue granularity: per-(frame, residue) center of mass —
    * the aggregation a reference user gets by slicing the topology's
    * residue graph (core/dask_traj.py:374-375) and running
    * compute_center_of_mass per residue selection; here it is ONE
    * two-key aggregation over the broadcast topology dimension instead
    * of a per-residue loop — same DECIMAL-exact Σx·m / Σm as
    * [[trajCom]]. */
  def trajComResidue(s: SparkSession, d: String): DataFrame = {
    def com(c: String) = round(
      sum(col(c).cast(DecimalType(18, 6)) * col("mass")).cast("double") /
        sum(col("mass")).cast("double"), 6).as(s"com_$c")
    TrajModel.positionsShared(s, d)
      .join(broadcast(TrajModel.topologyShared(s, d)), "atom_id")
      .groupBy("frame_id", "residue_id")
      .agg(count(lit(1)).as("n_atoms"), com("x"), com("y"), com("z"))
      .orderBy("frame_id", "residue_id")
  }

  private val trajComResidueSql = {
    def com(c: String) =
      s"""round(CAST(sum(CAST($c AS DECIMAL(18,6)) * mass) AS DOUBLE)
         |    / CAST(sum(mass) AS DOUBLE), 6) AS com_$c""".stripMargin
    s"""$P, ${TrajModel.topologySql}
       |SELECT frame_id, residue_id, CAST(count(*) AS BIGINT) AS n_atoms,
       |  ${com("x")}, ${com("y")}, ${com("z")}
       |FROM positions JOIN topo USING (atom_id)
       |GROUP BY frame_id, residue_id
       |ORDER BY frame_id, residue_id""".stripMargin
  }

  /** A1 on the WIDE layout: center of mass as a per-row fold over the
    * per-frame xyz array, with the masses delivered as a BROADCAST
    * one-row position-aligned mass ARRAY — the exact shape of the
    * reference kernel, which captures the topology's mass array
    * driver-side into every chunk task and reduces inside the chunk
    * (geometry/distance.py:319-320, :282-337). No aggregation shuffle:
    * after the frame grouping builds the wide rows, each frame reduces
    * within its own row. The masses ride a dense atom_id-indexed ARRAY
    * (topology atom ids are dense 1..N by construction), probed with
    * `element_at(masses, atom_id)` — O(1) per element, where a MAP
    * keyed on atom_id costs an O(atoms) linear scan per probe
    * (O(atoms²) per frame: measured 81 s vs sub-second at sf0.1). The
    * fold runs over the frame's own atom map, so frames with missing
    * atoms (the trajectory boundary-trim case) sum exactly the atoms
    * present, matching the long path's inner join.
    * Accumulation is scaled-BIGINT exact at 10⁻⁹ (x has 6 decimals,
    * mass 3 → the product is a 9-decimal rational, recovered exactly by
    * round(·×10⁹)), so the fold matches the long path's DECIMAL sums
    * bit-for-bit after the shared double divisions. Same values, same
    * oracle as [[trajCom]]. */
  def trajComWide(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // bounded broadcast: one row, |atoms| doubles (atoms are the
    // physically bounded axis — see TrajModel.positions). The one-row
    // `e -> e.mass` transform runs once per dataset, not per frame, and
    // is planned as a field extraction (functions.ArrayFieldExtract).
    val massArr = TrajModel.topologyShared(s, d)
      .agg(expr("transform(sort_array(collect_list(struct(atom_id, " +
        "CAST(mass AS DOUBLE) AS mass))), e -> e.mass)").as("masses"))
    // one codegen'd kernel pass per frame row (com_sums_scaled) — the
    // r12 form ran FOUR interpreted aggregate() lambdas per row
    // (VERDICT r12 #6). The wide rows come from the SHARED atom-map
    // build (one frame-grouping shuffle amortized across the wide
    // family — cog_wide rides the same instance).
    TrajModel.atomMapShared(s, d)
      .crossJoin(broadcast(massArr))
      .select(col("frame_id"),
        expr("com_sums_scaled(atoms, masses)").as("cs"))
      .select(col("frame_id"), col("cs.sxm").as("sxm"),
        col("cs.sym").as("sym"), col("cs.szm").as("szm"),
        col("cs.sm").as("sm"))
      .select(col("frame_id"),
        round((col("sxm").cast("double") / 1e9) /
          (col("sm").cast("double") / 1e3), 6).as("com_x"),
        round((col("sym").cast("double") / 1e9) /
          (col("sm").cast("double") / 1e3), 6).as("com_y"),
        round((col("szm").cast("double") / 1e9) /
          (col("sm").cast("double") / 1e3), 6).as("com_z"),
        (col("sm").cast("double") / 1e3).as("total_mass"))
      .orderBy("frame_id")
  }

  /** A1 for a FILE-LOADED trajectory — closes the reference's
    * `compute_center_of_mass(load(filename, top=topology))` path
    * (geometry/distance.py:282-337, masses from `traj.top` at
    * :319-320) for the formats that need `top=` for their shape
    * (mdcrd/inpcrd/binpos) and for any other source: masses come from
    * [[TrajLoad.topology]] (PDB elements → IUPAC weights) instead of
    * the synthetic parquet dimension, joined on the 0-based file-order
    * `atom_id` both sides emit. Same DECIMAL-exact Σx·m / Σm as
    * [[trajCom]]; the topology is broadcast (atoms are the bounded
    * axis — a 10⁶-atom system is a few MB) so the per-frame
    * aggregation shuffles only frames, never an atom-keyed join.
    * `groupKeys` extends the per-frame grouping with topology columns
    * — `Seq("res_seq")` / `Seq("chain")` give the residue/chain COM
    * variants of [[trajComResidue]]/[[trajComChain]] on loaded data. */
  def comOfLoaded(traj: DataFrame, topo: DataFrame,
      groupKeys: Seq[String] = Nil): DataFrame = {
    def com(c: String) = round(
      sum(col(c).cast(DecimalType(18, 6)) * col("mass")).cast("double") /
        sum(col("mass")).cast("double"), 6).as(s"com_$c")
    val dimCols = ("atom_id" +: "mass" +: groupKeys).distinct
    val keys = "frame_id" +: groupKeys
    traj.join(broadcast(topo.select(dimCols.map(col): _*)), "atom_id")
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_atoms"), com("x"), com("y"), com("z"),
        sum(col("mass")).cast("double").as("total_mass"))
      .orderBy(keys.map(col): _*)
  }

  /** [[comOfLoaded]] under the oracle gate: the committed
    * `fixtures/traj_com_loaded` mdcrd+PDB pair (generated once by
    * `graft.tools.ComLoadedFixture`, reproducible byte-for-byte) runs
    * the reference's `compute_center_of_mass(load(f, top=...))` idiom
    * — file load, `top=` topology with IUPAC masses, broadcast join,
    * DECIMAL-exact weighted mean — while the DuckDB oracle recomputes
    * the same arithmetic from `twin.parquet`, the loaded values this
    * library's own load path dumped next to the text fixtures. `d` is
    * ignored: the inputs are the FILES, which is the point. */
  def trajComLoaded(s: SparkSession, d: String): DataFrame = {
    val dir = ComLoadedFixtureDir
    val traj = s.read.format("mdcrd")
      .option("top", s"$dir/top.pdb").option("box", "true")
      .load(s"$dir/traj.mdcrd")
    comOfLoaded(traj, TrajLoad.topology(s, s"$dir/top.pdb"))
  }

  private val ComLoadedFixtureDir: String =
    sys.env.getOrElse("GRAFT_FIXTURES_DIR", "/root/repo/fixtures") +
      "/traj_com_loaded"

  /** The round-11 XTC codec under the oracle gate: scan the committed
    * `fixtures/traj_xtc/traj.xtc` (written by [[graft.sources.
    * XtcWrite]] with run/jump-structured coordinates) through the full
    * DSv2 read path, while the DuckDB oracle reads `twin.parquet` —
    * the expected values computed by `graft.tools.XtcFixture` from the
    * same closed-form source through the format's QUANTIZATION
    * contract alone, independent of both encoder and decoder. A
    * single wrong bit anywhere in the compressed stream shifts every
    * subsequent coordinate and the hash match fails. `d` is ignored:
    * the input is the committed binary file, which is the point. */
  def trajXtcScan(s: SparkSession, d: String): DataFrame = {
    s.read.format("xtc").option("chunks", 2)
      .load(s"$XtcFixtureDir/traj.xtc")
      .select("frame_id", "time", "step", "atom_id", "x", "y", "z",
        "bv1x", "bv2y", "bv3z")
      .orderBy("frame_id", "atom_id")
  }

  private val XtcFixtureDir: String =
    sys.env.getOrElse("GRAFT_FIXTURES_DIR", "/root/repo/fixtures") +
      "/traj_xtc"

  private def trajXtcScanSql =
    s"""SELECT frame_id, time, step, atom_id, x, y, z, bv1x, bv2y, bv3z
       |FROM read_parquet('$XtcFixtureDir/twin.parquet')
       |ORDER BY frame_id, atom_id""".stripMargin

  /** The round-11 netCDF-classic source under the oracle gate: scan
    * the committed `fixtures/traj_nc/traj.nc` (AMBER trajectory
    * convention, CDF-2, written by [[graft.sources.NetcdfWrite]])
    * through the full DSv2 read path; the DuckDB oracle reads
    * `twin.parquet`, computed by `graft.tools.NcFixture` from the
    * same closed-form source values independently of the reader. The
    * container stores float32 verbatim, so the contract is exact
    * equality on every coordinate, time, and cell value. */
  def trajNcScan(s: SparkSession, d: String): DataFrame = {
    s.read.format("netcdf").option("chunks", 2)
      .load(s"$NcFixtureDir/traj.nc")
      .select("frame_id", "time", "atom_id", "x", "y", "z",
        "box_a", "box_b", "box_c", "box_alpha", "box_beta", "box_gamma")
      .orderBy("frame_id", "atom_id")
  }

  private val NcFixtureDir: String =
    sys.env.getOrElse("GRAFT_FIXTURES_DIR", "/root/repo/fixtures") +
      "/traj_nc"

  private def trajNcScanSql =
    s"""SELECT frame_id, time, atom_id, x, y, z, box_a, box_b, box_c,
       |  box_alpha, box_beta, box_gamma
       |FROM read_parquet('$NcFixtureDir/twin.parquet')
       |ORDER BY frame_id, atom_id""".stripMargin

  /** The round-12 HDF5 source under the oracle gate: scan the
    * committed `fixtures/traj_h5/traj.h5` (mdtraj convention,
    * superblock v0 / chunked+gzip coordinates, written by
    * [[graft.sources.Hdf5Write]]) through the full DSv2 read path;
    * the DuckDB oracle reads `twin.parquet`, computed by
    * `graft.tools.H5Fixture` from the same closed-form source
    * independently of the reader. Deflate is lossless over float32
    * stored verbatim, so the contract is exact equality — any chunk
    * mis-addressing, wrong inflate, or row-order slip hash-fails. */
  def trajH5Scan(s: SparkSession, d: String): DataFrame = {
    s.read.format("hdf5").option("chunks", 2)
      .load(s"$H5FixtureDir/traj.h5")
      .select("frame_id", "time", "atom_id", "x", "y", "z",
        "box_a", "box_b", "box_c", "box_alpha", "box_beta", "box_gamma")
      .orderBy("frame_id", "atom_id")
  }

  private val H5FixtureDir: String =
    sys.env.getOrElse("GRAFT_FIXTURES_DIR", "/root/repo/fixtures") +
      "/traj_h5"

  private def trajH5ScanSql =
    s"""SELECT frame_id, time, atom_id, x, y, z, box_a, box_b, box_c,
       |  box_alpha, box_beta, box_gamma
       |FROM read_parquet('$H5FixtureDir/twin.parquet')
       |ORDER BY frame_id, atom_id""".stripMargin

  /** The legacy MSMBuilder `.lh5` profile under the same gate: int16
    * fixed-point XYZList. The twin carries round(nm×1000)/1000 —
    * the format's own lossy quantization contract, computed in
    * closed form independent of encoder AND decoder (the XTC fixture
    * discipline). */
  def trajLh5Scan(s: SparkSession, d: String): DataFrame = {
    s.read.format("hdf5").option("chunks", 2)
      .load(s"$H5FixtureDir/traj.lh5")
      .select("frame_id", "atom_id", "x", "y", "z")
      .orderBy("frame_id", "atom_id")
  }

  private def trajLh5ScanSql =
    s"""SELECT frame_id, atom_id, x, y, z
       |FROM read_parquet('$H5FixtureDir/twin_lh5.parquet')
       |ORDER BY frame_id, atom_id""".stripMargin

  /** The reference's `compute_center_of_mass(load("traj.h5"))` idiom
    * with the format's SELF-describing topology: the mdtraj `.h5`
    * convention embeds the topology JSON inside the trajectory, so no
    * `top=` is passed — [[graft.sources.Hdf5Topology]] reads the
    * embedded dataset, masses come from the cycled-element closed
    * form, and the DuckDB oracle recomputes the mass-weighted mean
    * from `twin_top.parquet` (coordinates + masses derived from the
    * same closed forms, independent of both the container parser and
    * the JSON reader). */
  def trajH5ComTop(s: SparkSession, d: String): DataFrame = {
    val f = s"$H5FixtureDir/traj.h5"
    comOfLoaded(s.read.format("hdf5").load(f), TrajLoad.topology(s, f))
  }

  private def trajH5ComTopSql = {
    def com(c: String) =
      s"""round(CAST(sum(CAST($c AS DECIMAL(18,6)) * mass) AS DOUBLE)
         |    / CAST(sum(mass) AS DOUBLE), 6) AS com_$c""".stripMargin
    s"""SELECT frame_id, CAST(count(*) AS BIGINT) AS n_atoms,
       |  ${com("x")}, ${com("y")}, ${com("z")},
       |  CAST(sum(mass) AS DOUBLE) AS total_mass
       |FROM read_parquet('$H5FixtureDir/twin_top.parquet')
       |GROUP BY frame_id ORDER BY frame_id""".stripMargin
  }

  private def trajComLoadedSql = {
    def com(c: String) =
      s"""round(CAST(sum(CAST($c AS DECIMAL(18,6)) * mass) AS DOUBLE)
         |    / CAST(sum(mass) AS DOUBLE), 6) AS com_$c""".stripMargin
    s"""SELECT frame_id, CAST(count(*) AS BIGINT) AS n_atoms,
       |  ${com("x")}, ${com("y")}, ${com("z")},
       |  CAST(sum(mass) AS DOUBLE) AS total_mass
       |FROM read_parquet('$ComLoadedFixtureDir/twin.parquet')
       |GROUP BY frame_id ORDER BY frame_id""".stripMargin
  }

  /** A1 across the full topology hierarchy: ROLLUP(chain, residue)
    * inside each frame — one Expand+Aggregate pass emits the chain-level
    * COM, the (chain, residue) detail AND the per-frame total, completing
    * the reference topology graph (chain → residue → atom,
    * core/dask_traj.py:374-375) at every granularity. SQL form, not
    * Dataset.rollup (which trips Spark 4's ambiguous-self-join check
    * when grouping keys are re-selected). Grouping levels are encoded
    * with -1 sentinels so both engines order identically. */
  def trajComChain(s: SparkSession, d: String): DataFrame = {
    // Two-level rollup (r13): the leaf aggregate collapses the
    // atom-sized relation to (frame, chain, residue) groups FIRST, so
    // the ROLLUP's Expand (×3 grouping sets) replicates leaf rows
    // (atoms/8 of the base at this topology), not every atom row —
    // measured 14.2 s → ~2× better at the 100× replica. Bit-identical
    // by construction: DECIMAL sums are exact and associative
    // (sum-of-leaf-sums == sum-of-rows; nothing rounds until the final
    // DOUBLE division), counts roll up as sums. ROLLUP stays SQL, not
    // Dataset.rollup (Spark 4 ambiguous-self-join trap, ROUND_NOTES).
    TrajModel.positionsShared(s, d)
      .join(broadcast(TrajModel.topologyShared(s, d)), "atom_id")
      .createOrReplaceTempView("graft_traj_topo_src")
    s.sql(
      s"""WITH leaf AS (
         |  SELECT frame_id, chain_id, residue_id,
         |    count(*) AS n,
         |    sum(CAST(x AS DECIMAL(18,6)) * mass) AS sx,
         |    sum(CAST(y AS DECIMAL(18,6)) * mass) AS sy,
         |    sum(CAST(z AS DECIMAL(18,6)) * mass) AS sz,
         |    sum(mass) AS sm
         |  FROM graft_traj_topo_src
         |  GROUP BY frame_id, chain_id, residue_id)
         |SELECT frame_id, coalesce(chain_id, -1) AS chain_id,
         |  coalesce(residue_id, -1) AS residue_id,
         |  CAST(sum(n) AS BIGINT) AS n_atoms,
         |  round(CAST(sum(sx) AS DOUBLE) / CAST(sum(sm) AS DOUBLE), 6)
         |    AS com_x,
         |  round(CAST(sum(sy) AS DOUBLE) / CAST(sum(sm) AS DOUBLE), 6)
         |    AS com_y,
         |  round(CAST(sum(sz) AS DOUBLE) / CAST(sum(sm) AS DOUBLE), 6)
         |    AS com_z
         |FROM leaf
         |GROUP BY frame_id, ROLLUP (chain_id, residue_id)
         |ORDER BY frame_id, chain_id, residue_id""".stripMargin)
  }

  private val trajComChainSql = {
    def com(c: String) =
      s"""round(CAST(sum(CAST($c AS DECIMAL(18,6)) * mass) AS DOUBLE)
         |    / CAST(sum(mass) AS DOUBLE), 6) AS com_$c""".stripMargin
    s"""$P, ${TrajModel.topologySql}
       |SELECT frame_id, coalesce(chain_id, -1) AS chain_id,
       |  coalesce(residue_id, -1) AS residue_id,
       |  CAST(count(*) AS BIGINT) AS n_atoms,
       |  ${com("x")}, ${com("y")}, ${com("z")}
       |FROM positions JOIN topo USING (atom_id)
       |GROUP BY frame_id, ROLLUP (chain_id, residue_id)
       |ORDER BY frame_id, chain_id, residue_id""".stripMargin
  }

  /** A2: per-frame unweighted mean = center of geometry
    * (distance.py:340-390). */
  def trajCog(s: SparkSession, d: String): DataFrame = {
    def cog(c: String) = round(
      sum(col(c).cast(DecimalType(18, 6))).cast("double") / count(lit(1)),
      6).as(s"cog_$c")
    TrajModel.positionsShared(s, d)
      .groupBy("frame_id")
      .agg(cog("x"), cog("y"), cog("z"), count(lit(1)).as("n_atoms"))
      .orderBy("frame_id")
  }

  private val trajCogSql = {
    def cog(c: String) =
      s"round(CAST(sum(CAST($c AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)" +
        s" AS cog_$c"
    s"""$P
       |SELECT frame_id, ${cog("x")}, ${cog("y")}, ${cog("z")},
       |  CAST(count(*) AS BIGINT) AS n_atoms
       |FROM positions GROUP BY frame_id ORDER BY frame_id""".stripMargin
  }

  /** A2 on the TYPED WIDE layout: center of geometry as a PER-ROW array
    * fold over `Dataset[TrajFrame].xyz` — no aggregation shuffle at all
    * (the one shuffle is building the wide frame rows; after that every
    * frame reduces inside its own row, the exact shape of the
    * reference's per-chunk `xyz.mean(axis=1)` over the frame-major
    * array, geometry/distance.py:340-390). The fold accumulates in
    * scaled BIGINT (coordinates are round(·,6), so ×10⁶ is integral) —
    * exact integer addition, reduction-order independent, matching the
    * oracle's DECIMAL sum bit-for-bit after the shared /10⁶ and /n
    * double divisions. Same values, same oracle as [[trajCog]].
    * The fold is the codegen'd `xyz_sum_scaled` kernel (one JVM loop
    * per row, the dot_scaled pattern) — the r12 version used an
    * `aggregate()` HOF lambda, which evaluates interpreted per
    * ELEMENT (VERDICT r12 #6). */
  def trajCogWide(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // r14: one cog_sums_scaled kernel pass over the SHARED atom-map
    // build (TrajModel.atomMapShared — com_wide rides the same
    // instance, so the wide family pays the frame-grouping shuffle
    // once per session, not once per query). Scaled-BIGINT addition is
    // exact and commutative, so summing in map order is bit-identical
    // to the retired sorted-array fold (xyz_sum_scaled over
    // TrajDataset.wide), which WideLayoutSpec still pins against the
    // long path.
    TrajModel.atomMapShared(s, d)
      .select(col("frame_id"), col("n_atoms"),
        expr("cog_sums_scaled(atoms)").as("cs"))
      .select(col("frame_id"),
        round(col("cs.sx").cast("double") / 1e6 / col("n_atoms"), 6)
          .as("cog_x"),
        round(col("cs.sy").cast("double") / 1e6 / col("n_atoms"), 6)
          .as("cog_y"),
        round(col("cs.sz").cast("double") / 1e6 / col("n_atoms"), 6)
          .as("cog_z"),
        col("n_atoms").cast("long").as("n_atoms"))
      .orderBy("frame_id")
  }

  /** J3+W2: cross join of two atom groups in one frame + global top-1 —
    * find_closest_contact (distance.py:393-464). Ordered on the rounded
    * distance so both engines break ties identically. Filters on the
    * single-frame positions slice (TrajModel.positionsFrameShared):
    * the frame predicate reaches the parquet scan as a PushedFilter,
    * so a one-frame lookup costs O(one frame) I/O at any trajectory
    * length instead of scanning the whole checkpointed instance
    * (VERDICT r12 #3 — measured 6.4-9.8× growth at the 10× replica
    * for this constant-size query before the routing). */
  def trajClosestContact(s: SparkSession, d: String): DataFrame = {
    val p = TrajModel.positionsFrameShared(s, d, 1, atomMax = 100)
    val g1 = role(p, "p").filter(col("p_atom").between(1, 50))
    val g2 = role(p, "q").filter(col("q_atom").between(51, 100))
    g1.crossJoin(g2)
      .select(col("p_atom").as("a1"), col("q_atom").as("a2"),
        round(dist(col("px"), col("py"), col("pz"),
          col("qx"), col("qy"), col("qz")), 6).as("dist"))
      .orderBy(col("dist"), col("a1"), col("a2"))
      .limit(1)
  }

  private val trajClosestContactSql =
    s"""$P
       |SELECT p1.atom_id AS a1, p2.atom_id AS a2,
       |  round(sqrt((p1.x-p2.x)*(p1.x-p2.x) + (p1.y-p2.y)*(p1.y-p2.y)
       |             + (p1.z-p2.z)*(p1.z-p2.z)), 6) AS dist
       |FROM positions p1, positions p2
       |WHERE p1.frame_id = 1 AND p2.frame_id = 1
       |  AND p1.atom_id BETWEEN 1 AND 50 AND p2.atom_id BETWEEN 51 AND 100
       |ORDER BY dist, a1, a2 LIMIT 1""".stripMargin

  /** J3 (periodic path — the reference's DEFAULT): find_closest_contact
    * takes `periodic=True` and folds each candidate pair through the
    * frame's minimum image before the top-1
    * (geometry/distance.py:394-426 — the kernel takes the box vectors;
    * :426 defaults periodic on). Same bounded 50×50 cross-join +
    * TakeOrderedAndProject plan as the non-periodic variant; the box
    * columns ride the relation via TrajModel.cellColumns (frame 1 is
    * orthorhombic under the synthetic cell, so the per-axis
    * `d − L·round(d/L)` fold applies exactly). */
  def trajClosestContactPeriodic(s: SparkSession, d: String): DataFrame = {
    // same single-frame pushdown routing as trajClosestContact; the
    // (session, dir, frame) memo means the two variants share one build
    val p = TrajModel.positionsFrameShared(s, d, 1, atomMax = 100)
    val g1 = role(p, "p").filter(col("p_atom").between(1, 50))
    val g2 = role(p, "q").filter(col("q_atom").between(51, 100))
    g1.crossJoin(g2)
      .select(Seq(col("p_atom").as("a1"), col("q_atom").as("a2"),
        (col("px") - col("qx")).as("dx"), (col("py") - col("qy")).as("dy"),
        (col("pz") - col("qz")).as("dz")) ++
        TrajModel.cellColumns(col("p_frame")): _*)
      .select(col("a1"), col("a2"),
        round(sqrt(norm2(micDelta(col("dx"), col("u_la")),
          micDelta(col("dy"), col("u_lb")),
          micDelta(col("dz"), col("u_lc")))), 6).as("dist_mic"))
      .orderBy(col("dist_mic"), col("a1"), col("a2"))
      .limit(1)
  }

  private val trajClosestContactPeriodicSql =
    s"""$P
       |SELECT p1.atom_id AS a1, p2.atom_id AS a2,
       |  round(sqrt(
       |    ((p1.x-p2.x) - 6.0*round((p1.x-p2.x)/6.0, 0))
       |      * ((p1.x-p2.x) - 6.0*round((p1.x-p2.x)/6.0, 0))
       |    + ((p1.y-p2.y) - 7.0*round((p1.y-p2.y)/7.0, 0))
       |      * ((p1.y-p2.y) - 7.0*round((p1.y-p2.y)/7.0, 0))
       |    + ((p1.z-p2.z) - 8.0*round((p1.z-p2.z)/8.0, 0))
       |      * ((p1.z-p2.z) - 8.0*round((p1.z-p2.z)/8.0, 0))), 6) AS dist_mic
       |FROM positions p1, positions p2
       |WHERE p1.frame_id = 1 AND p2.frame_id = 1
       |  AND p1.atom_id BETWEEN 1 AND 50 AND p2.atom_id BETWEEN 51 AND 100
       |ORDER BY dist_mic, a1, a2 LIMIT 1""".stripMargin

  /** J1+W1 (key semantics): trajectory concatenation with duplicate-key
    * dedup (core/dask_traj.py:591-659: UNION ALL ordered by source).
    * Earlier source wins per (frame, atom); output is a per-frame
    * summary. The reference-faithful coordinate-tolerance variant is
    * q_traj_join_overlap below. */
  def trajJoinDedup(s: SparkSession, d: String): DataFrame = {
    val p = TrajModel.positionsShared(s, d)
    val a = p.filter(col("frame_id").between(1, 4))
      .withColumn("src", lit(0))
    val b = p.filter(col("frame_id").between(4, 7))
      .withColumn("src", lit(1))
    val w = Window.partitionBy("frame_id", "atom_id").orderBy("src")
    a.unionByName(b)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("frame_id")
      .agg(count(lit(1)).as("n_atoms"),
        round(sum(col("x").cast(DecimalType(18, 6))).cast("double"), 6)
          .as("sum_x"),
        round(sum(col("y").cast(DecimalType(18, 6))).cast("double"), 6)
          .as("sum_y"))
      .orderBy("frame_id")
  }

  private val trajJoinDedupSql =
    s"""$P, unioned AS (
       |  SELECT 0 AS src, * FROM positions WHERE frame_id BETWEEN 1 AND 4
       |  UNION ALL
       |  SELECT 1 AS src, * FROM positions WHERE frame_id BETWEEN 4 AND 7),
       |deduped AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY frame_id, atom_id
       |                                 ORDER BY src) AS rn
       |    FROM unioned) r
       |  WHERE rn = 1)
       |SELECT frame_id, CAST(count(*) AS BIGINT) AS n_atoms,
       |  round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_x,
       |  round(CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_y
       |FROM deduped GROUP BY frame_id ORDER BY frame_id""".stripMargin

  /** J1+W1 (reference-faithful tolerance semantics):
    * `join(discard_overlapping_frames=True)` compares the LAST frame of
    * the earlier trajectory against the FIRST frame of the later one,
    * all atoms, and drops the earlier boundary frame when every
    * coordinate delta is below 2e-3 (core/dask_traj.py:630-640). The
    * overlap test is a scalar aggregate over the boundary frame pair,
    * broadcast into the union filter — the reference computes the same
    * np.all(...) inline at join time. ONE scan: both boundary frames
    * come out of a single pass (conditional aggregation pivots them
    * side by side per atom) instead of two filtered scans + a join. */
  def trajJoinOverlap(s: SparkSession, d: String): DataFrame = {
    val p = TrajModel.positionsShared(s, d)
    val a = p.filter(col("frame_id").between(1, 4))
      .withColumn("src", lit(0L))
    val b = p.filter(col("frame_id").between(4, 7))
      .withColumn("src", lit(1L))
    // boundary compare: traj A's last frame (4) vs traj B's first (4)
    val lastA = 4L
    val firstB = 4L
    def side(frame: Long, c: String, as: String) =
      max(when(col("frame_id") === frame, col(c))).as(as)
    val perAtom = p
      .filter(col("frame_id") === lastA || col("frame_id") === firstB)
      .groupBy("atom_id")
      .agg(side(lastA, "x", "x1"), side(lastA, "y", "y1"),
        side(lastA, "z", "z1"), side(firstB, "x", "x2"),
        side(firstB, "y", "y2"), side(firstB, "z", "z2"))
    val overlap = perAtom
      .agg(max(greatest(abs(col("x1") - col("x2")),
        abs(col("y1") - col("y2")), abs(col("z1") - col("z2"))))
        .as("max_dev"))
      .select((col("max_dev") < 0.002).as("overlap"))
    a.unionByName(b)
      .crossJoin(broadcast(overlap))
      .filter(!(col("src") === 0 && col("frame_id") === 4 &&
        col("overlap")))
      .groupBy("src", "frame_id")
      .agg(count(lit(1)).as("n_atoms"),
        round(sum(col("x").cast(DecimalType(18, 6))).cast("double"), 6)
          .as("sum_x"))
      .orderBy("src", "frame_id")
  }

  private val trajJoinOverlapSql =
    s"""$P, unioned AS (
       |  SELECT CAST(0 AS BIGINT) AS src, * FROM positions
       |  WHERE frame_id BETWEEN 1 AND 4
       |  UNION ALL
       |  SELECT CAST(1 AS BIGINT) AS src, * FROM positions
       |  WHERE frame_id BETWEEN 4 AND 7),
       |bnd AS (
       |  SELECT max(greatest(abs(x1.x - x2.x), abs(x1.y - x2.y),
       |                      abs(x1.z - x2.z))) < 0.002 AS overlap
       |  FROM positions x1 JOIN positions x2 ON x1.atom_id = x2.atom_id
       |  WHERE x1.frame_id = 4 AND x2.frame_id = 4),
       |merged AS (
       |  SELECT u.* FROM unioned u, bnd
       |  WHERE NOT (u.src = 0 AND u.frame_id = 4 AND bnd.overlap))
       |SELECT src, frame_id, CAST(count(*) AS BIGINT) AS n_atoms,
       |  round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_x
       |FROM merged GROUP BY src, frame_id ORDER BY src, frame_id"""
      .stripMargin

  /** P2 `atom_slice` (mdtraj inherited; exercised at
    * tests/test_dask_traj.py:129): project the trajectory onto an atom
    * subset, atoms re-indexed densely 0..n-1 in selection order — the
    * column-subset projection of the atom axis. The selection is a
    * literal list (the user-supplied `atom_indices` argument), so the
    * filter pushes into the positions build. */
  def trajAtomSlice(s: SparkSession, d: String): DataFrame = {
    val sel = Seq(2L, 3L, 5L, 7L, 11L, 13L)
    val rank = sel.sorted.zipWithIndex
      .map { case (a, i) => (a, i.toLong) }
    val rankCol = rank.foldLeft(lit(-1L)) { case (acc, (a, i)) =>
      when(col("atom_id") === a, lit(i)).otherwise(acc)
    }
    TrajModel.positionsShared(s, d)
      .filter(col("atom_id").isin(sel: _*))
      .select(col("frame_id"), rankCol.as("new_atom_id"),
        col("atom_id").as("orig_atom_id"), col("x"), col("y"), col("z"))
      .orderBy("frame_id", "new_atom_id")
  }

  private val trajAtomSliceSql = {
    val sel = Seq(2L, 3L, 5L, 7L, 11L, 13L)
    val cases = sel.sorted.zipWithIndex
      .map { case (a, i) => s"WHEN $a THEN $i" }.mkString(" ")
    s"""$P
       |SELECT frame_id,
       |  CAST(CASE atom_id $cases END AS BIGINT) AS new_atom_id,
       |  atom_id AS orig_atom_id, x, y, z
       |FROM positions
       |WHERE atom_id IN (${sel.mkString(", ")})
       |ORDER BY frame_id, new_atom_id""".stripMargin
  }

  /** P1 frame reordering: `traj[::-1]` reversal
    * (tests/test_dask_traj.py:143) — frames re-indexed through a scalar
    * bounds subquery (new = max+min − old), broadcast into the scan like
    * the reference's delayed scalars (SURVEY O7); per-frame summary
    * keyed by the NEW frame id proves the reorder. */
  def trajReverse(s: SparkSession, d: String): DataFrame = {
    val p = TrajModel.positionsShared(s, d)
    val bounds = p.agg((max("frame_id") + min("frame_id")).as("mm"))
    p.crossJoin(broadcast(bounds))
      .groupBy((col("mm") - col("frame_id")).as("frame_id"))
      .agg(min(col("frame_id")).as("orig_frame"),
        count(lit(1)).as("n_atoms"),
        round(sum(col("x").cast(DecimalType(18, 6))).cast("double"), 6)
          .as("sum_x"))
      .orderBy("frame_id")
  }

  private val trajReverseSql =
    s"""$P, mm AS (SELECT max(frame_id) + min(frame_id) AS mm FROM positions)
       |SELECT mm - frame_id AS frame_id, min(frame_id) AS orig_frame,
       |  CAST(count(*) AS BIGINT) AS n_atoms,
       |  round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_x
       |FROM positions, mm
       |GROUP BY mm - frame_id
       |ORDER BY frame_id""".stripMargin

  /** F4+F5: box (lengths, angles) → Bravais vectors → back; the
    * round-trip must recover the input (validation.py:146-292,
    * tests/test_utils.py:106-111). Literal boxes, no table scan. */
  def trajBoxRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val boxes = Seq(
      (1L, 6.0, 6.0, 6.0, 90.0, 90.0, 90.0),
      (2L, 5.0, 6.0, 7.0, 60.0, 70.0, 80.0),
      (3L, 3.5, 4.5, 5.5, 75.0, 85.0, 95.0),
      (4L, 10.0, 10.0, 10.0, 120.0, 90.0, 90.0))
      .toDF("box_id", "la", "lb", "lc", "alpha", "beta", "gamma")
    val withVec = boxVectors(col("la"), col("lb"), col("lc"),
      col("alpha"), col("beta"), col("gamma"))
      .foldLeft(boxes) { case (df, (n, c)) => df.withColumn(n, c) }
    val withBack = vectorsToBox(col("vax"), col("vay"), col("vaz"),
      col("vbx"), col("vby"), col("vbz"),
      col("vcx"), col("vcy"), col("vcz"))
      .foldLeft(withVec) { case (df, (n, c)) => df.withColumn(n, round(c, 6)) }
    withBack.select(col("box_id"), col("la"), col("lb"), col("lc"),
      col("alpha"), col("beta"), col("gamma"),
      col("r_a"), col("r_b"), col("r_c"),
      col("r_alpha"), col("r_beta"), col("r_gamma"))
      .orderBy("box_id")
  }

  private val trajBoxRoundtripSql =
    """WITH boxes(box_id, la, lb, lc, alpha, beta, gamma) AS (VALUES
      |  (CAST(1 AS BIGINT), 6.0, 6.0, 6.0, 90.0, 90.0, 90.0),
      |  (2, 5.0, 6.0, 7.0, 60.0, 70.0, 80.0),
      |  (3, 3.5, 4.5, 5.5, 75.0, 85.0, 95.0),
      |  (4, 10.0, 10.0, 10.0, 120.0, 90.0, 90.0)),
      |vec0 AS (
      |  SELECT box_id, la, lb, lc, alpha, beta, gamma,
      |    la AS ax0,
      |    lb * cos(radians(gamma)) AS bx0,
      |    lb * sin(radians(gamma)) AS by0,
      |    lc * cos(radians(beta)) AS cx0,
      |    lc * (cos(radians(alpha)) - cos(radians(beta))*cos(radians(gamma)))
      |       / sin(radians(gamma)) AS cy0
      |  FROM boxes),
      |vec AS (
      |  SELECT box_id, la, lb, lc, alpha, beta, gamma,
      |    CASE WHEN abs(ax0) < 1e-6 THEN 0.0 ELSE ax0 END AS vax,
      |    0.0 AS vay, 0.0 AS vaz,
      |    CASE WHEN abs(bx0) < 1e-6 THEN 0.0 ELSE bx0 END AS vbx,
      |    CASE WHEN abs(by0) < 1e-6 THEN 0.0 ELSE by0 END AS vby,
      |    0.0 AS vbz,
      |    CASE WHEN abs(cx0) < 1e-6 THEN 0.0 ELSE cx0 END AS vcx,
      |    CASE WHEN abs(cy0) < 1e-6 THEN 0.0 ELSE cy0 END AS vcy,
      |    CASE WHEN abs(sqrt(lc*lc - cx0*cx0 - cy0*cy0)) < 1e-6 THEN 0.0
      |         ELSE sqrt(lc*lc - cx0*cx0 - cy0*cy0) END AS vcz
      |  FROM vec0),
      |norms AS (
      |  SELECT *, sqrt(vax*vax + vay*vay + vaz*vaz) AS na,
      |    sqrt(vbx*vbx + vby*vby + vbz*vbz) AS nb,
      |    sqrt(vcx*vcx + vcy*vcy + vcz*vcz) AS nc
      |  FROM vec)
      |SELECT box_id, la, lb, lc, alpha, beta, gamma,
      |  round(na, 6) AS r_a, round(nb, 6) AS r_b, round(nc, 6) AS r_c,
      |  round(degrees(acos(least(greatest(
      |    (vbx*vcx + vby*vcy + vbz*vcz)/(nb*nc), -1.0), 1.0))), 6) AS r_alpha,
      |  round(degrees(acos(least(greatest(
      |    (vax*vcx + vay*vcy + vaz*vcz)/(na*nc), -1.0), 1.0))), 6) AS r_beta,
      |  round(degrees(acos(least(greatest(
      |    (vax*vbx + vay*vby + vaz*vbz)/(na*nb), -1.0), 1.0))), 6) AS r_gamma
      |FROM norms ORDER BY box_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_traj_distances", trajDistances, Some(trajDistancesSql)),
    QueryDef("q_traj_pair_stats", trajPairStats, Some(trajPairStatsSql)),
    QueryDef("q_traj_distances_wide", trajDistancesWide,
      Some(trajDistancesSql)),
    QueryDef("q_traj_distances_periodic", trajDistancesPeriodic,
      Some(trajDistancesPeriodicSql)),
    QueryDef("q_traj_distances_triclinic", trajDistancesTriclinic,
      Some(trajDistancesTriclinicSql)),
    QueryDef("q_traj_mic_adaptive", trajMicAdaptive,
      Some(trajMicAdaptiveSql)),
    QueryDef("q_traj_displacements", trajDisplacements,
      Some(trajDisplacementsSql)),
    QueryDef("q_traj_displacements_periodic", trajDisplacementsPeriodic,
      Some(trajDisplacementsPeriodicSql)),
    QueryDef("q_traj_angles", trajAngles, Some(trajAnglesSql)),
    QueryDef("q_traj_dihedrals", trajDihedrals, Some(trajDihedralsSql)),
    QueryDef("q_traj_angles_wide", trajAnglesWide, Some(trajAnglesSql)),
    QueryDef("q_traj_com", trajCom, Some(trajComSql)),
    QueryDef("q_traj_com_loaded", trajComLoaded, Some(trajComLoadedSql)),
    QueryDef("q_traj_xtc_scan", trajXtcScan, Some(trajXtcScanSql)),
    QueryDef("q_traj_nc_scan", trajNcScan, Some(trajNcScanSql)),
    QueryDef("q_traj_h5_scan", trajH5Scan, Some(trajH5ScanSql)),
    QueryDef("q_traj_lh5_scan", trajLh5Scan, Some(trajLh5ScanSql)),
    QueryDef("q_traj_h5_com_top", trajH5ComTop, Some(trajH5ComTopSql)),
    QueryDef("q_traj_com_wide", trajComWide, Some(trajComSql)),
    QueryDef("q_traj_com_residue", trajComResidue, Some(trajComResidueSql)),
    QueryDef("q_traj_com_chain", trajComChain, Some(trajComChainSql)),
    QueryDef("q_traj_cog", trajCog, Some(trajCogSql)),
    QueryDef("q_traj_cog_wide", trajCogWide, Some(trajCogSql)),
    QueryDef("q_traj_closest_contact", trajClosestContact,
      Some(trajClosestContactSql)),
    QueryDef("q_traj_closest_contact_periodic", trajClosestContactPeriodic,
      Some(trajClosestContactPeriodicSql)),
    QueryDef("q_traj_join_dedup", trajJoinDedup, Some(trajJoinDedupSql)),
    QueryDef("q_traj_join_overlap", trajJoinOverlap,
      Some(trajJoinOverlapSql)),
    QueryDef("q_traj_atom_slice", trajAtomSlice, Some(trajAtomSliceSql)),
    QueryDef("q_traj_reverse", trajReverse, Some(trajReverseSql)),
    QueryDef("q_traj_box_roundtrip", trajBoxRoundtrip,
      Some(trajBoxRoundtripSql)))
}
