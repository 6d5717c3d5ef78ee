package graft.traj

import graft.util.Barrier.BarrierOps
import graft.rel.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic trajectory views over the harness tables (FIXTURES.md §C).
  *
  * The reference's data model is a frame-chunked positions array
  * (`/root/reference/dask_traj/core/dask_traj.py:364-436`). Here the
  * long/exploded relational layout — one row per (frame_id, atom_id) with
  * x,y,z — is derived deterministically from lineitem so DuckDB can build
  * the identical view for the oracle compare.
  *
  * Scale note: atom identity comes from a ranked *distinct partkey*
  * dimension (small — one row per part), broadcast-joined back to the
  * fact table. The global rank is two-phase (range partition → local
  * row_number → offset by per-partition counts), so no window ever sees
  * more than one range partition of distinct keys — nothing funnels
  * through a single task even when the part dimension itself is huge.
  * The fact-side work is an embarrassingly parallel projection + one
  * keyed aggregation, mirroring the reference's chunk-parallel design
  * (core/dask_traj.py:87-100).
  */
object TrajModel {

  /** Atom dimension: distinct l_partkey ranked 1..n_atoms.
    *
    * Two-phase distributed rank: range-partition the distinct keys,
    * rank inside each partition (keyed window), then add the count of
    * all keys in lower ranges. The per-partition counts are a ≤32-row
    * side table combined with a broadcast triangular join — no
    * single-partition WindowExec anywhere in the plan. */
  def atomDim(s: SparkSession, d: String): DataFrame = {
    val keys = Tables.lineitem(s, d).select("l_partkey").distinct()
      .repartitionByRange(32, col("l_partkey"))
      .withColumn("pid", spark_partition_id())
    val local = keys.withColumn("lrank",
      row_number().over(Window.partitionBy("pid").orderBy("l_partkey")))
    val counts = local.groupBy("pid").agg(count(lit(1)).as("cnt"))
    val lower = counts.select(col("pid").as("pid2"), col("cnt").as("cnt2"))
    val offsets = counts.join(broadcast(lower), col("pid2") < col("pid"),
        "left")
      .groupBy("pid").agg(coalesce(sum("cnt2"), lit(0L)).as("off"))
    local.join(broadcast(offsets), "pid")
      .select(col("l_partkey"),
        (col("lrank") + col("off")).cast("long").as("atom_id"))
  }

  /** Topology dimension table (SURVEY §1.1): atom_id → residue_id,
    * element symbol and DECIMAL mass, derived deterministically from
    * `part` — the relational analog of the reference reading
    * `a.element.mass` (and the residue graph) off the parsed PDB
    * topology (geometry/distance.py:319, core/dask_traj.py:374-375).
    * residue_id groups 8 consecutive atoms per residue, the
    * deterministic stand-in for the reference topology's residue
    * membership. Broadcast side of every mass-weighted aggregation;
    * never partitioned, like the reference's driver-captured mass
    * array. */
  def topology(s: SparkSession, d: String): DataFrame =
    atomDimShared(s, d)
      .join(Tables.part(s, d).select("p_partkey", "p_size"),
        col("l_partkey") === col("p_partkey"), "left")
      .select(col("atom_id"),
        expr("(atom_id - 1) DIV 8 + 1").cast("long").as("residue_id"),
        // chain groups 32 consecutive residues — the last granularity of
        // the reference topology graph (chain → residue → atom,
        // core/dask_traj.py:374-375; pdb chain column in PdbTopology)
        expr("(atom_id - 1) DIV 256 + 1").cast("long").as("chain_id"),
        concat(lit("E"), (coalesce(col("p_size"), lit(1)) % 18 + 1)
          .cast("string")).as("element"),
        ((coalesce(col("p_size"), lit(1)) % 18 + 1).cast(DecimalType(8, 3)) +
          lit(0.008).cast(DecimalType(4, 3))).as("mass"))

  /** DuckDB CTE for the topology dimension (append after positionsSql). */
  val topologySql: String =
    """topo AS (
      |  SELECT atom_id,
      |    CAST((atom_id - 1) // 8 + 1 AS BIGINT) AS residue_id,
      |    CAST((atom_id - 1) // 256 + 1 AS BIGINT) AS chain_id,
      |    'E' || CAST(coalesce(p_size, 1) % 18 + 1 AS VARCHAR) AS element,
      |    CAST(coalesce(p_size, 1) % 18 + 1 AS DECIMAL(8,3))
      |      + CAST(0.008 AS DECIMAL(4,3)) AS mass
      |  FROM pkr LEFT JOIN part ON p_partkey = l_partkey)""".stripMargin

  /** positions(frame_id, atom_id, x, y, z) — unique key (frame_id,
    * atom_id); min() collapses duplicate observations exactly
    * (order-independent, unlike avg over doubles). */
  def positions(s: SparkSession, d: String): DataFrame =
    positionsBuild(s, d, frame = None)

  private def positionsBuild(s: SparkSession, d: String,
      frame: Option[Long],
      atomMax: Long = Long.MaxValue): DataFrame = {
    val fact = frame match {
      // single-frame predicate goes on the PARQUET COLUMN before
      // anything else, so the scan's PushedFilters prunes row groups
      // instead of the query scanning a whole materialized instance
      case Some(f) =>
        Tables.lineitem(s, d).filter(col("l_linenumber") === f)
      case None => Tables.lineitem(s, d)
    }
    // atom-range pushdown onto the DIMENSION side of the join: a
    // bounded-atom consumer (closest-contact reads atoms 1-100 of one
    // frame) must not pay a frame-WIDTH-proportional build — at the
    // 100× replica the frame is 100× wider, and materializing all
    // 8.6 M atoms through the groupBy + barrier to then keep 100 was
    // the whole 18× scale tail (VERDICT r14 next #6). Filtering the
    // broadcast dim makes the join itself discard every other atom,
    // so the shuffle/checkpoint is O(atoms requested); the fact-scan
    // decode of the frame's rows remains, and is the irreducible cost
    // without a partkey-sorted silver table (SCALING.md).
    val dim =
      if (atomMax == Long.MaxValue) atomDimShared(s, d)
      else atomDimShared(s, d).filter(col("atom_id") <= atomMax)
    fact
      // broadcast is sound here ONLY because the atom dimension is
      // physically bounded (one row per distinct atom — ~10⁵-10⁷ ids,
      // like the reference's driver-captured topology,
      // distance.py:319-320). Do not copy this hint onto a relation
      // keyed by the FRAME axis: frames grow without bound at 100 TB
      // and a forced broadcast there OOMs (see cellColumns scaladoc).
      .join(broadcast(dim), "l_partkey")
      .select(
        col("l_linenumber").cast("long").as("frame_id"),
        col("atom_id"),
        col("l_quantity").as("x"),
        (col("l_discount") * 10).as("y"),
        (col("l_tax") * 10).as("z"))
      .groupBy("frame_id", "atom_id")
      .agg(round(min("x"), 6).as("x"), round(min("y"), 6).as("y"),
        round(min("z"), 6).as("z"))
  }

  /** ONE frame of positions, built fresh from the parquet fact with
    * the frame predicate pushed into the scan (VERDICT r12 #3). The
    * checkpointed [[positionsShared]] instance is the right plan for
    * whole-trajectory passes — ~30 queries amortize one build — but a
    * localCheckpoint forfeits parquet predicate pushdown, so a
    * single-frame lookup against it pays a full-table scan that grows
    * linearly with the trajectory (measured 6.4-9.8× at the 10×
    * replica for constant-size work). Here the frame filter reaches
    * the lineitem scan as a PushedFilter (row-group pruning → ~O(one
    * frame) I/O at any trajectory length), and the per-query cost is
    * one broadcast-join + groupBy over a single frame's rows.
    * Memoized per (session, dir, frame, atomMax) like every shared
    * instance so repeated single-frame queries (both closest-contact
    * variants use frame 1, atoms ≤ 100) still build once. `atomMax`
    * bounds the materialized slice to the atoms the consumer actually
    * reads (see positionsBuild's dimension-pushdown note). */
  def positionsFrameShared(s: SparkSession, d: String, frame: Long,
      atomMax: Long = Long.MaxValue): DataFrame =
    shared(s, d, s"positions-f$frame-a$atomMax")(
      positionsFrame(s, d, frame, atomMax))

  /** The un-checkpointed single-frame build — exposed so PlanShapeSpec
    * can pin the PushedFilters on the parquet scan (the checkpointed
    * instance above plans as an RDD scan and hides it). */
  private[graft] def positionsFrame(s: SparkSession, d: String,
      frame: Long, atomMax: Long = Long.MaxValue): DataFrame =
    positionsBuild(s, d, Some(frame), atomMax)

  /** Dimension/fact tables with a lineage barrier, materialized ONCE
    * per (session, dir, table) and reused by every trajectory query —
    * the analog of the reference loading a trajectory once and running
    * many computations over it (core/dask_traj.py:406-416: xyz is
    * computed once and sliced per chunk per operator). Within one query
    * the barrier also guarantees the 2-3 join roles share a single
    * evaluation instead of relying on Catalyst's best-effort exchange
    * reuse. Caching the DIMENSIONS here too (atom_dim, topology,
    * unitcell) matters as much as the fact: round 2's q_traj_com spent
    * ~7s/run re-running the two-phase atom rank per invocation because
    * only positions sat behind the barrier. At cluster scale these are
    * persisted/bucketed tables (SCALING.md); executor-local checkpoint
    * blocks stand in for them here. Built once in
    * [[graft.util.SharedArtifacts]] scope `traj`, which lives until the
    * application ends. */
  private def shared(s: SparkSession, d: String, key: String)
      (build: => DataFrame): DataFrame =
    graft.util.SharedArtifacts.get(s, "traj", s"$d:$key")(
      build.graftBarrier)

  def positionsShared(s: SparkSession, d: String): DataFrame =
    shared(s, d, "positions")(positions(s, d))

  /** The full wide-frames build (one row per frame, sorted atom map +
    * member count), shared across the `_wide` query family
    * (VERDICT r13 wrong #3: com_wide and cog_wide each re-ran the
    * frame-grouping shuffle over the whole positions relation — the
    * two worst plan-bound 100× ratios on the board; the exploded
    * family amortizes its build through [[positionsShared]], so the
    * wide family gets the same treatment). n_atoms rides the row so
    * consumers never recount the map. distances/angles `_wide` keep
    * their FILTERED builds: they touch ~10² atoms, and sharing the
    * full map would trade a pushed-down scan filter for a full-width
    * gather. */
  def atomMapShared(s: SparkSession, d: String): DataFrame =
    shared(s, d, "atom_map") {
      TrajDataset.atomMap(positionsShared(s, d))
        .withColumn("n_atoms", size(map_keys(col("atoms"))))
    }

  def atomDimShared(s: SparkSession, d: String): DataFrame =
    shared(s, d, "atom_dim")(atomDim(s, d))

  def topologyShared(s: SparkSession, d: String): DataFrame =
    shared(s, d, "topology")(topology(s, d))

  def unitcellShared(s: SparkSession, d: String): DataFrame =
    shared(s, d, "unitcell")(unitcell(s, d))

  /** Per-frame unitcell dimension (SURVEY §1.1: unitcell_lengths /
    * unitcell_angles columns; reference reads them off the trajectory
    * per chunk to steer the `orthogonal` kernel dispatch,
    * geometry/distance.py:128). Derived deterministically like
    * positions: one row per frame; odd frames are orthorhombic
    * (6×7×8, 90/90/90), even frames triclinic (6×7×8, 60/60/90).
    * Alongside lengths and angles it carries the lower-triangular
    * Bravais components (u_ax..u_cz) precomputed driver-side with
    * TrajOps.triBox — literal doubles identical in both engines, so no
    * per-row trig and no cross-libm divergence (SURVEY §7.2). Joined
    * broadcast, like every dimension here. */
  def unitcell(s: SparkSession, d: String): DataFrame =
    positionsShared(s, d).select("frame_id").distinct()
      .select(col("frame_id").as("u_frame") +: cellColumns(col("frame_id")): _*)

  /** The synthetic per-frame box as column GENERATORS over a frame
    * column — the single source of truth behind both representations of
    * the unitcell: the [[unitcell]] dimension table above (the catalog
    * artifact) and the positions-riding layout the geometry queries
    * consume. The reference's own layout stores unitcell lengths/angles
    * as per-frame TRAJECTORY columns (core/dask_traj.py:498-517), and a
    * real binary source delivers them the same way (dcd's box_a..box_
    * gamma scan columns) — so attaching them to the fact rows is the
    * native shape, and it is the only shape that survives the frame
    * axis growing without bound: a broadcast of a one-row-per-frame
    * dimension is ~100 GB at 10⁹ frames. Never force-broadcast a
    * frame-cardinality relation; compute (or scan) the box alongside
    * the coordinates instead. */
  def cellColumns(frame: Column): Seq[Column] = {
    val t = TrajOps.triBox(6.0, 7.0, 8.0, 60.0, 60.0, 90.0)
    val odd = frame % 2 === 1
    Seq(
      lit(6.0).as("u_la"), lit(7.0).as("u_lb"), lit(8.0).as("u_lc"),
      when(odd, 90.0).otherwise(60.0).as("u_alpha"),
      when(odd, 90.0).otherwise(60.0).as("u_beta"),
      lit(90.0).as("u_gamma"),
      when(odd, 6.0).otherwise(t.ax).as("u_ax"),
      when(odd, 0.0).otherwise(t.bx).as("u_bx"),
      when(odd, 7.0).otherwise(t.by).as("u_by"),
      when(odd, 0.0).otherwise(t.cx).as("u_cx"),
      when(odd, 0.0).otherwise(t.cy).as("u_cy"),
      when(odd, 8.0).otherwise(t.cz).as("u_cz"))
  }

  /** DuckDB CTE producing the identical view; prefix of every trajectory
    * oracle query. */
  val positionsSql: String =
    """WITH pkr AS (
      |  SELECT l_partkey,
      |    CAST(row_number() OVER (ORDER BY l_partkey) AS BIGINT) AS atom_id
      |  FROM (SELECT DISTINCT l_partkey FROM lineitem) pk),
      |raw AS (
      |  SELECT CAST(l_linenumber AS BIGINT) AS frame_id, atom_id,
      |    l_quantity AS x, l_discount * 10 AS y, l_tax * 10 AS z
      |  FROM lineitem JOIN pkr USING (l_partkey)),
      |positions AS (
      |  SELECT frame_id, atom_id, round(min(x), 6) AS x,
      |    round(min(y), 6) AS y, round(min(z), 6) AS z
      |  FROM raw GROUP BY frame_id, atom_id)""".stripMargin

  /** Fixed atom-pair list — the analog of the user-supplied `atom_pairs`
    * argument (geometry/distance.py:69-106). Broadcast side of the
    * pair-expansion join (SURVEY §2.3 J2). */
  val pairs: Seq[(Long, Long)] = Seq(
    (1L, 2L), (2L, 9L), (3L, 5L), (4L, 25L), (6L, 40L),
    (7L, 11L), (8L, 33L), (10L, 20L), (15L, 30L), (21L, 42L))

  /** Fixed angle triplets (geometry/angle.py:58-107). */
  val triplets: Seq[(Long, Long, Long)] = Seq(
    (1L, 2L, 3L), (2L, 4L, 8L), (5L, 10L, 15L), (7L, 11L, 13L),
    (20L, 30L, 40L))

  def pairsDf(s: SparkSession): DataFrame = {
    import s.implicits._
    pairs.toDF("a1", "a2")
  }

  def tripletsDf(s: SparkSession): DataFrame = {
    import s.implicits._
    triplets.toDF("ai", "aj", "ak")
  }

  /** Fixed dihedral quadruplets — the 4-atom torsion stencil (the
    * mdtraj compute_dihedrals surface; the reference wraps only the
    * 3-atom angle at geometry/angle.py:58 — same gather, one more
    * role). */
  val quadruplets: Seq[(Long, Long, Long, Long)] = Seq(
    (1L, 2L, 3L, 4L), (2L, 4L, 8L, 16L), (5L, 10L, 15L, 20L),
    (7L, 11L, 13L, 17L), (20L, 30L, 40L, 50L))

  def quadrupletsDf(s: SparkSession): DataFrame = {
    import s.implicits._
    quadruplets.toDF("ai", "aj", "ak", "al")
  }

  /** The posq/post CTEs pre-filter positions to the atom ids the
    * pair/triplet list references. Semantically redundant (the joins
    * restrict to those atoms anyway) but it bounds EVERY join order the
    * oracle engine might pick — DuckDB was observed choosing a
    * positions×positions frame-join before the atom restriction on the
    * angles query (573 s instead of 0.2 s at sf0.01). */
  val pairsSql: String =
    pairs.map { case (a, b) => s"($a, $b)" }.mkString(
      "pairs AS (SELECT CAST(a1 AS BIGINT) AS a1, CAST(a2 AS BIGINT) AS a2 " +
        "FROM (VALUES ", ", ", ") v(a1, a2))") +
      ",\nposq AS (SELECT * FROM positions WHERE atom_id IN (" +
      pairs.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
        .mkString(", ") + "))"

  val tripletsSql: String =
    triplets.map { case (a, b, c) => s"($a, $b, $c)" }.mkString(
      "triplets AS (SELECT CAST(ai AS BIGINT) AS ai, CAST(aj AS BIGINT) AS aj," +
        " CAST(ak AS BIGINT) AS ak FROM (VALUES ", ", ", ") v(ai, aj, ak))") +
      ",\npost AS (SELECT * FROM positions WHERE atom_id IN (" +
      triplets.flatMap { case (a, b, c) => Seq(a, b, c) }.distinct.sorted
        .mkString(", ") + "))"

  val quadrupletsSql: String =
    quadruplets.map { case (a, b, c, e) => s"($a, $b, $c, $e)" }.mkString(
      "quads AS (SELECT CAST(ai AS BIGINT) AS ai, CAST(aj AS BIGINT) AS aj," +
        " CAST(ak AS BIGINT) AS ak, CAST(al AS BIGINT) AS al" +
        " FROM (VALUES ", ", ", ") v(ai, aj, ak, al))") +
      ",\nposd AS (SELECT * FROM positions WHERE atom_id IN (" +
      quadruplets.flatMap { case (a, b, c, e) => Seq(a, b, c, e) }
        .distinct.sorted.mkString(", ") + "))"
}
