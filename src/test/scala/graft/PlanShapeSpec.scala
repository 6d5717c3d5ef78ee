package graft
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.scalatest.funsuite.AnyFunSuite
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  test("repetition filter plan is a narrow projection (no aggregate, " +
    "single exchange only for the presentation sort)") {
    val df = text.TextQueries.repetitionFilter(spark, SparkTestBase.sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"))
    assert(!plan.contains("Generate")) // no token explode
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, s"expected only the sort exchange, got:\n$plan")
  }

  // ---- plan-shape budgets for the five most expensive queries ------
  // (VERDICT r11 ask #4). Each budget pins the CURRENT exchange/sort/
  // join counts as a ceiling so a future edit that silently adds a
  // shuffle fails a test, not a bench review. Counts are over the
  // executedPlan tree string — the same methodology as the audits in
  // SCALING.md — and are identical at sf0.001 and sf0.01 (verified
  // with tools.PlanCount), so the pins are not stats-fragile.

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, SparkTestBase.sf)
      .queryExecution.executedPlan.toString

  private def counts(name: String): Map[String, Int] = {
    val p = planOf(name)
    def c(pat: String) = pat.r.findAllIn(p).length
    Map("exchanges" -> c("Exchange"), "smj" -> c("SortMergeJoin"),
      "bhj" -> c("BroadcastHashJoin"), "hashagg" -> c("HashAggregate"),
      "objagg" -> c("ObjectHashAggregate"), "generate" -> c("Generate"),
      "window" -> c("Window"))
  }

  test("q_agg_pricing_summary: TPC-H Q1 shape — ONE #groups-sized " +
    "shuffle plus the presentation sort, partial+final aggregate, " +
    "no join") {
    val c = counts("q_agg_pricing_summary")
    // floor: groupBy(returnflag, linestatus) needs exactly one hash
    // exchange; orderBy adds one range exchange; on single-row-group
    // fixture files Fanout.spreadScan adds ONE more (the measured
    // serial-scan spread, r20-opt — identity at production row-group
    // counts, gate pinned in FanoutSpreadSpec). Anything above 3
    // means a lost map-side partial or an accidental join.
    assert(c("exchanges") <= 3, c.toString)
    assert(c("hashagg") == 2, c.toString) // partial + final
    assert(c("smj") + c("bhj") == 0, c.toString)
  }

  test("q_dedup_ngram: gather-kernel plan — 3 exchanges, no join at " +
    "all on the common path, one bounded pair-list explode") {
    val c = counts("q_dedup_ngram")
    // floor: doc repartition + (fp, lenb) gather + presentation sort.
    // The common path has NO join (blocks gather and verify in-kernel);
    // the single Generate is the kernel's RESULT pair list (bounded by
    // matches), never token- or gram-sized rows.
    assert(c("exchanges") <= 3, c.toString)
    assert(c("generate") <= 1, c.toString)
    assert(c("smj") + c("bhj") == 0, c.toString)
    val p = planOf("q_dedup_ngram")
    assert(p.contains("ngram_close_pairs"), p)
  }

  test("q_lang_id_ngram: the nested-loop join builds the per-language " +
    "profile (never the corpus); the hits side explodes no grams") {
    // r21 shape: each doc's gram array meets the broadcast profile
    // arrays (one row per language) in an array_intersect, so the
    // load-bearing properties are which side is built and that no
    // (doc, gram) rows exist on the hits side.
    val plan = SparkEntry.queries("q_lang_id_ngram")(spark,
      SparkTestBase.sf).queryExecution.sparkPlan
    val joins = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(joins.length == 1, plan.treeString)
    val j = joins.head
    val (build, hits) =
      if (j.buildSide == BuildRight) (j.right, j.left) else (j.left, j.right)
    assert(build.output.map(_.name).toSet == Set("plang", "pgrams"),
      build.treeString)
    val buildKeys = build.collectFirst { case a: BaseAggregateExec =>
      a.groupingExpressions.map(_.toAttribute.name)
    }
    assert(buildKeys.contains(Seq("plang")), build.treeString)
    assert(hits.collect { case g: GenerateExec => g }.isEmpty,
      hits.treeString)
    // plans/r21/q_lang_id_ngram_after.txt: doc repartition, the
    // profile's (lang, gram) and rank shuffles, its broadcast, the
    // best-hit rank shuffle and the presentation sort = 6
    val c = counts("q_lang_id_ngram")
    assert(c("exchanges") <= 6, c.toString)
    assert(c("smj") <= 1, c.toString)
  }

  test("q_span_dedup: fingerprint-keyed plan budget — no sort-merge " +
    "join, no window, bounded exchanges") {
    val c = counts("q_span_dedup")
    // floor: gram fingerprint gather, stats groupBy, occurrence
    // re-join (broadcast), doc-bounded reassembly, presentation sort.
    assert(c("exchanges") <= 8, c.toString)
    assert(c("smj") == 0, c.toString)
    assert(c("window") == 0, c.toString)
  }

  test("q_decontaminate_df: the r17 fused shape — ONE broadcast hot " +
    "anti-join + ONE broadcast bench join + ONE per-doc rollup, no " +
    "sort-merge join anywhere") {
    val c = counts("q_decontaminate_df")
    // floor: train0's distinct + the census groupBy (inside the
    // broadcast build) + benchSide's groupBy (inside the other build)
    // + the per-doc rollup + presentation sort = 4 plain exchanges +
    // 2 broadcast exchanges ("Exchange" matches both). The pre-fusion
    // plan recombined two doc-keyed aggregates through a sort-merge
    // join — smj must stay ZERO, and a third join or a second doc
    // rollup fails the ceilings.
    assert(c("smj") == 0, c.toString)
    assert(c("bhj") == 2, c.toString)
    assert(c("exchanges") <= 6, c.toString)
    assert(c("generate") <= 1, c.toString) // one gram-hash explode
  }

  test("q_dedup_ngram_df: post-barrier gather-kernel plan — band " +
    "explode + (fp, lenb) gather + kernel pair list, no join at all") {
    // r20-opt: the registered query reads the build-once SHARED pair
    // set (ngramDfPairsShared — the minhashPairsShared contract), so
    // its own plan is barrier-scan + presentation sort; the tier BODY
    // keeps the shape pinned before the sharing refactor. Both pins
    // matter: the registered query must stay a pure consumer (a join
    // or aggregate here means the shared barrier stopped cutting the
    // plan), and the tier body must keep the no-join kernel shape.
    val creg = counts("q_dedup_ngram_df")
    assert(creg("exchanges") <= 2, creg.toString)
    assert(creg("smj") + creg("bhj") == 0, creg.toString)
    val tier = text.TextQueries.ngramDfPairsAt(spark, SparkTestBase.sf,
      text.TextQueries.NgramBlockCap, text.TextQueries.ChromeDfFrac)
    val p = tier.queryExecution.executedPlan.toString
    def c(pat: String) = pat.r.findAllIn(p).length
    assert(c("Exchange") <= 3, p.take(3000))
    assert(c("SortMergeJoin") + c("BroadcastHashJoin") == 0, p.take(3000))
    assert(c("Generate") <= 2, p.take(3000))
    assert(p.contains("ngram_close_pairs"), p.take(3000))
  }

  test("q_dedup_minhash_df: post-barrier pair plan — band self-join " +
    "plus the two shingle verify joins, censuses behind the barrier") {
    val c = counts("q_dedup_minhash_df")
    // The DF census + anti-join + signature kernel live BEHIND the
    // ds barrier; the consumer plan pinned here is band-explode →
    // bucket self-join → distinct → two shingle joins → Jaccard →
    // sort. TWO Generates: each side of the bucket self-join explodes
    // the persisted bkeys from the barrier scan (cheap — a third
    // would mean the census chain stopped being cut by the barrier).
    // Measured 5 exchanges / 3 joins / 0 smj at fixture scale.
    assert(c("generate") <= 2, c.toString)
    assert(!planOf("q_dedup_minhash_df").contains("Cartesian"),
      "cartesian in the pair plan")
    assert(c("exchanges") <= 6, c.toString)
    assert(c("smj") + c("bhj") <= 3, c.toString)
  }

  test("q_dedup_pipeline: composed-plan budget — no cartesian/nested-" +
    "loop join anywhere, one window for cluster sizes, bounded " +
    "exchanges (VERDICT r17 next #1)") {
    val c = counts("q_dedup_pipeline")
    val p = planOf("q_dedup_pipeline")
    // The union edge set is materialized by CC's own eager barrier
    // before this plan exists, so the plan pinned here is the
    // POST-CLUSTER consumer: doc labeling (cc join), the rep-keyed
    // cluster-size window, the survivor semi-join, the span chain
    // over survivors, and the final doc-keyed assembly. Measured 19
    // exchanges / 7 static sort-merge joins at sf0.001 AND sf0.01
    // (scale-stable); the r18 pre-window form paid 22/9 for a
    // groupBy+re-join cluster-size. Ceilings, not pins: AQE converts
    // the small-side smj to broadcasts at runtime, but a structural
    // regression (a second window shuffle, a lost semi-join, a
    // cartesian) must fail here.
    assert(c("exchanges") <= 20, c.toString)
    assert(c("smj") <= 8, c.toString)
    assert(c("window") == 1, c.toString)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    // the span kernel must run over the survivor corpus in-plan
    assert(p.contains("span_clean"), p.take(4000))
  }

  test("q_dedup_semantic_scaled: post-barrier consumer plan — no " +
    "cartesian/nested-loop join, bounded exchanges (the scaled fit " +
    "and CC clusters are barrier-pinned build-once artifacts, so the " +
    "plan pinned here is labeling + sizes + fit join + sort)") {
    val c = counts("q_dedup_semantic_scaled")
    val p = planOf("q_dedup_semantic_scaled")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // measured 9 exchanges / 4 static smj (labeling left join + size
    // join + fit join + presentation sort; AQE broadcasts the
    // candidate-bounded sides at runtime). Ceilings, not pins.
    assert(c("exchanges") <= 10, c.toString)
    assert(c("smj") <= 5, c.toString)
    assert(c("window") == 0, c.toString)
  }

  test("q_dedup_simhash: the r12 adaptive common path — plain gather " +
    "kernel plan with NO window and no segment-cell join on a " +
    "sub-cap corpus") {
    val p = planOf("q_dedup_simhash")
    def c(pat: String) = pat.r.findAllIn(p).length
    // floor: banded gather + distinct + presentation sort. The probe
    // (memoized, not in this plan) chose the unsegmented branch, so
    // the per-partition window sort of 9·n banded rows must be GONE —
    // a regression to the always-window r11 plan fails here.
    assert(c("Exchange") <= 3, p)
    assert(c("Window") == 0, p)
    assert(p.contains("simhash_close_pairs"), p)
    assert(!p.contains("simhash_close_pairs_x"), p)
  }

  test("single-frame positions routing: the frame predicate reaches " +
    "the lineitem parquet scan as a PushedFilter (VERDICT r12 #3)") {
    // the checkpointed positionsShared instance forfeits pushdown, so
    // q_traj_closest_contact* route through positionsFrame — whose
    // build MUST push the frame equality into the scan (row-group
    // pruning → O(one frame) I/O at any trajectory length)
    val p = graft.traj.TrajModel
      .positionsFrame(spark, SparkTestBase.sf, 1)
      .queryExecution.executedPlan.toString
    assert(p.contains("EqualTo(l_linenumber,1)"),
      s"frame equality not pushed to the parquet scan:\n$p")
    // r15 (VERDICT r14 next #6): the bounded-atom variant must ALSO
    // filter the broadcast dimension, so the join discards every
    // other atom before the groupBy + barrier — without this the
    // single-frame build materializes the whole frame width (100×
    // wider at the 100× replica; the measured 18× tail)
    val pa = graft.traj.TrajModel
      .positionsFrame(spark, SparkTestBase.sf, 1, atomMax = 100)
      .queryExecution.executedPlan.toString
    assert(pa.contains("EqualTo(l_linenumber,1)"),
      s"frame equality not pushed (atomMax variant):\n$pa")
    assert(pa.contains("atom_id#") && pa.contains("<= 100"),
      s"atom bound not applied to the dimension side:\n$pa")
  }

  /** The frame axis is the one that grows without bound at 100 TB, so
    * no query may FORCE a broadcast of a relation that carries a frame
    * column (the r3 unitcell and r4 pair-role hazards, now a standing
    * rule). With autoBroadcastJoinThreshold=-1 every surviving
    * BroadcastExchange in the static plan stems from an explicit hint
    * (stats-gated planner broadcasts are disabled, and inner cross
    * joins fall back to CartesianProduct), so collecting frame-carrying
    * BroadcastExchange nodes detects exactly the forced ones. AQE may
    * still choose a runtime broadcast from observed sizes — that is a
    * sized decision, not a forced one, and is out of scope here. */
  test("no query force-broadcasts a relation carrying a frame column") {
    // NAME-BASED guard: frame columns must be called frame_id, frame,
    // or *_frame for this rule to see them — any new query that aliases
    // the frame axis to another name (fid, f, ...) evades the check, so
    // new frame-column aliases MUST follow the *_frame convention.
    def carriesFrame(name: String): Boolean =
      name == "frame_id" || name == "frame" || name == "u_frame" ||
        name.endsWith("_frame")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
        val df = fn(spark, SparkTestBase.sf)
        val offenders = df.queryExecution.sparkPlan.collect {
          case b: BroadcastExchangeExec
              if b.output.exists(a => carriesFrame(a.name)) => b
        }
        assert(offenders.isEmpty,
          s"$name force-broadcasts a frame-axis relation:\n" +
            offenders.map(_.treeString).mkString("\n"))
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("traj_ref's op over XTC gathers each frame in the scan: no hash " +
    "exchange, collect_list or ObjectHashAggregate; no exchange at all, " +
    "the final reduce is a driver merge") {
    import org.apache.spark.sql.functions._
    // trajbench's traj_ref op (plans/frame_gather/ holds both plans)
    val frames = spark.read.format("xtc").option("chunks", 1)
      .load("fixtures/traj_xtc/traj.xtc")
      .filter(col("atom_id") < 500)
      .select(col("frame_id"), col("atom_id"), col("x"), col("y"), col("z"))
      .groupBy("frame_id")
      .agg(sort_array(collect_list(struct(col("atom_id"), col("x"),
        col("y"), col("z")))).as("a"))
    val op = frames.select(expr("pair_dist_stats(transform(a, s -> s.x), " +
        "transform(a, s -> s.y), transform(a, s -> s.z))").as("st"))
      .agg(sum(col("st.cnt")), sum(col("st.sum")), min(col("st.mn")),
        max(col("st.mx")))
    val plan = op.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning") && !plan.contains("collect_list") &&
      !plan.contains("ObjectHashAggregate"), plan)
    // plans/driver_merge/ holds the plans before and after
    assert("Exchange".r.findAllIn(plan).isEmpty &&
      "DriverMergeAggregate".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("XtcScan gathered(atom_id, x, y, z)"), plan)
    // the x/y/z extraction is a codegen'd field extractor, not a
    // lambda, so the kernel's Project joins whole-stage codegen
    // (plans/pair_kernel/ holds the plans before and after)
    op.collect()
    val executed = op.queryExecution.executedPlan.toString
    assert(!executed.contains("lambdafunction"), executed)
    assert("""\*\(\d+\) Project \[pair_dist_stats\(""".r.findFirstIn(executed).nonEmpty,
      executed)
  }

  test("traj_ref's op over DCD plans as over XTC: gathered in the scan, " +
    "no collect_list or exchange, one driver merge") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(12)
    val path = java.nio.file.Files.createTempFile("trajref", ".dcd").toString
    graft.sources.DcdWrite.write(path, (0 until 6).map { _ =>
      def axis() = Array.fill(600)(rnd.between(-3f, 3f))
      graft.sources.DcdWrite.Frame(axis(), axis(), axis(), None)
    })
    val frames = spark.read.format("dcd").option("chunks", 1).load(path)
      .filter(col("atom_id") < 500)
      .select(col("frame_id"), col("atom_id"), col("x"), col("y"), col("z"))
      .groupBy("frame_id")
      .agg(sort_array(collect_list(struct(col("atom_id"), col("x"),
        col("y"), col("z")))).as("a"))
    val op = frames.select(expr("pair_dist_stats(transform(a, s -> s.x), " +
        "transform(a, s -> s.y), transform(a, s -> s.z))").as("st"))
      .agg(sum(col("st.cnt")), sum(col("st.sum")), min(col("st.mn")),
        max(col("st.mx")))
    val plan = op.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning") && !plan.contains("collect_list") &&
      !plan.contains("ObjectHashAggregate"), plan)
    assert("Exchange".r.findAllIn(plan).isEmpty &&
      "DriverMergeAggregate".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("DcdScan gathered(atom_id, x, y, z)"), plan)
    assert(op.collect()(0).getLong(0) == 6L * 500 * 499 / 2)
  }
}
