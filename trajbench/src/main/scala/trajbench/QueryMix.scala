package graft.trajbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Short oracle-checked queries (relational, events, windows and
  * trajectory geometry) through `SparkEntry.queries`, in a seeded order.
  * Fixed per-query driver and scheduling overhead dominates here.
  *
  * Set-up runs every query once and writes its rows as parquet under
  * `checkDir` with the oracle SQL beside them; the harness compares
  * those against DuckDB after the JVM exits. */
final class QueryMix(seed: Long, sf: String, checkDir: String, tr: Tracer)
    extends Workload {
  import QueryMix._
  import Ops.{noop, timed}

  private val order = new scala.util.Random(seed).shuffle(Names).toIndexedSeq
  private var spark: SparkSession = _

  def setup(spark: SparkSession, tr: Tracer): Unit = {
    this.spark = spark
    val oracle = SparkEntry.oracleSql
    val missing = Names.filterNot(n => SparkEntry.queries.contains(n) && oracle.contains(n))
    require(missing.isEmpty, s"queries without an oracle: ${missing.mkString(", ")}")
    new File(checkDir).mkdirs()
    for (n <- order)
      SparkEntry.queries(n)(spark, sf).coalesce(1).write.mode("overwrite")
        .parquet(s"$checkDir/$n")
    Files.writeString(Paths.get(checkDir, "oracle_sql.json"),
      Json(Names.map(n => n -> oracle(n)).toMap))
    for (n <- order) noop(SparkEntry.queries(n)(spark, sf)) // second warm-up pass
  }

  /** Untraced: the query function plus a noop write, as `Bench` runs it.
    * Traced: the same op split into the query-function call (including
    * any eager barrier or tier jobs it starts), Catalyst planning, and
    * execution. */
  private def run(n: String): Option[String] = {
    if (!tr.on) noop(SparkEntry.queries(n)(spark, sf))
    else {
      val df = tr.time("entry.build_s")(SparkEntry.queries(n)(spark, sf))
      tr.time("entry.plan_s")(df.queryExecution.executedPlan)
      tr.time("exec_s")(noop(df))
    }
    None
  }

  val pass: IndexedSeq[(String, () => Option[String])] =
    order.map(n => n -> (() => run(n)))

  /** Traced only: cold-minus-warm cost of a text tier (minhash pairs)
    * and a sim tier (k-means fit), and the connected-components
    * barrier over the minhash pair graph. Eviction drops the registry
    * entries; the persisted-RDD count after each probe shows whether
    * their blocks were freed. */
  override def finish(spark: SparkSession, tr: Tracer): Seq[OpResult] = {
    if (!tr.on) return Nil
    def coldWarm(q: String, evict: SparkSession => Unit): Double = {
      evict(spark)
      val cold = timed(noop(SparkEntry.queries(q)(spark, sf)))
      val warm = timed(noop(SparkEntry.queries(q)(spark, sf)))
      cold - warm
    }
    val rdds0 = spark.sparkContext.getPersistentRDDs.size
    tr.put("text.tier_build_s", coldWarm("q_dedup_minhash", graft.text.TextQueries.evictShared))
    tr.put("sim.tier_build_s", coldWarm("q_sim_ann_ivf", graft.sim.SimQueries.evictShared))
    tr.put("util.persisted_rdds_after_evictions",
      (spark.sparkContext.getPersistentRDDs.size - rdds0).toDouble)
    val edges = graft.text.TextQueries.minhashPairsProbe(spark, sf).select("d1", "d2")
    edges.count()
    val t0 = System.nanoTime()
    val cc = tr.counted(spark, "graph-cc")(
      noop(graft.graph.GraphOps.connectedComponents(edges)))
    tr.put("graph.cc_s", (System.nanoTime() - t0) / 1e9)
    tr.put("graph.cc_jobs", cc.jobs.toDouble)
    Nil
  }
}

object QueryMix {
  val Names: Seq[String] = Seq(
    // relational
    "q_filter_project", "q_semi_join", "q_anti_join", "q_union_all",
    "q_topk_agg",
    // windows and events
    "q_window_topk_orders", "q_events_tumbling",
    // trajectory geometry and a fixture scan
    "q_traj_distances", "q_traj_pair_stats", "q_traj_com",
    "q_traj_xtc_scan")
}
