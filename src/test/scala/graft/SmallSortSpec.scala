package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SmallSort

/** The single-partition plan of small global sorts ([[SmallSort]]):
  * a sort of a small input has no `rangepartitioning` and runs one job
  * fewer (the range partitioner's sampling job), with Spark's answers,
  * under AQE on and off; a large input, a threshold of -1 and a
  * streaming sort keep Spark's plan.
  *
  * The suite's sessions all carry the strategy (the test session
  * injects `GraftExtensions`), so the reference is a `newSession()`
  * whose first extra strategy plans every `Sort` as Spark's
  * `BasicOperators` does. */
class SmallSortSpec extends AnyFunSuite {
  private lazy val base = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  private def session(aqe: Boolean, small: Boolean,
      threshold: Option[String] = None): SparkSession = {
    val s = base.newSession()
    s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    threshold.foreach(s.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
    if (small) functions.GraftFunctions.register(s)
    else {
      val basic = s.sessionState.planner.BasicOperators
      s.experimental.extraStrategies = Seq(new SparkStrategy {
        override def apply(p: LogicalPlan): Seq[SparkPlan] = p match {
          case sort: Sort => basic(sort)
          case _ => Nil
        }
      })
    }
    // t: 1,000 rows over 8 partitions; v is null on every 7th row
    s.range(0, 1000, 1, 8).selectExpr("id", "id % 5 AS k",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE id * 0.37 END AS v")
      .createOrReplaceTempView("t")
    s
  }

  private lazy val sessions: Seq[(Boolean, SparkSession, SparkSession)] =
    Seq(true, false).map(aqe => (aqe, session(aqe, small = true), session(aqe, small = false)))

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private val pinned = Seq("q_filter_project", "q_window_topk_orders")

  test("q_filter_project and q_window_topk_orders plan no " +
    "rangepartitioning and run one job fewer than Spark's plan") {
    for ((aqe, s, ref) <- sessions; q <- pinned) withClue(s"$q aqe=$aqe") {
      val query = SparkEntry.queries(q)
      val plan = planOf(query(s, sf))
      assert(!plan.contains("rangepartitioning") &&
        plan.contains("Exchange SinglePartition"), plan)
      assert(planOf(query(ref, sf)).contains("rangepartitioning"))
      noop(query(s, sf))
      noop(query(ref, sf))
      val jobs = SparkTestBase.jobsOf(s)(noop(query(s, sf)))
      val refJobs = SparkTestBase.jobsOf(ref)(noop(query(ref, sf)))
      assert(jobs == refJobs - 1, s"$jobs jobs against Spark's $refJobs")
    }
  }

  test("a 1 KB or disabled broadcast threshold keeps the range sort") {
    for (t <- Seq("1024", "-1"); q <- pinned) withClue(s"$q threshold=$t") {
      val s = session(aqe = true, small = true, threshold = Some(t))
      assert(planOf(SparkEntry.queries(q)(s, sf)).contains("rangepartitioning"))
    }
  }

  test("sorted queries answer as Spark's plan does, under AQE on and off") {
    val sql = Seq(
      "SELECT * FROM t ORDER BY v DESC NULLS LAST, id",
      "SELECT k, count(*) AS n, sum(v) AS s FROM t GROUP BY k ORDER BY s DESC",
      "SELECT a.id, b.k FROM t a JOIN t b ON a.id = b.id + 1 ORDER BY a.id DESC",
      "SELECT * FROM t WHERE id < 0 ORDER BY id")
    for ((aqe, s, ref) <- sessions) withClue(s"aqe=$aqe") {
      for (q <- sql) withClue(q)(assert(rows(s.sql(q)) == rows(ref.sql(q))))
      for (q <- QueryMix) withClue(q)(assert(
        rows(SparkEntry.queries(q)(s, sf)) == rows(SparkEntry.queries(q)(ref, sf))))
    }
  }

  test("an input that is already one partition gets no second exchange") {
    def exchanges(df: DataFrame): Int = "Exchange".r.findAllIn(planOf(df)).length
    for ((aqe, s, ref) <- sessions) withClue(s"aqe=$aqe") {
      for (q <- Seq(
          (s: SparkSession) => s.table("t").limit(20).orderBy(col("id").desc),
          (s: SparkSession) => s.table("t").repartition(1).orderBy("k", "id"),
          (s: SparkSession) => s.table("t")
            .withColumn("r", row_number().over(
              org.apache.spark.sql.expressions.Window.orderBy("id")))
            .orderBy(col("r").desc))) {
        val (got, want) = (q(s), q(ref))
        assert(exchanges(got) == 1 && exchanges(want) == 1, planOf(got))
        assert(rows(got) == rows(want))
        // AQE's re-plans of the executed query add none either
        assert(exchanges(got) == exchanges(want), planOf(got))
      }
    }
  }

  test("a streaming complete-mode sorted aggregate keeps its plan and answer") {
    val answers = for ((_, s, ref) <- sessions.take(1); sess <- Seq(s, ref)) yield {
      import sess.implicits._
      val ms = MemoryStream[Int](sess)
      val sorted = ms.toDF().groupBy((col("value") % 3).as("m"))
        .agg(count(lit(1)).as("n"), sum("value").as("total")).orderBy(col("total").desc)
      assert(SmallSort(sorted.queryExecution.analyzed).isEmpty)
      val name = s"small_sort_stream_${math.abs(System.identityHashCode(sess))}"
      val q = sorted.writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try {
        ms.addData(1, 2, 3, 4, 5)
        q.processAllAvailable()
        ms.addData(6, 7)
        q.processAllAvailable()
        sess.table(name).collect().map(_.toString).toSeq
      } finally q.stop()
    }
    assert(answers.head == Seq("[1,3,12]", "[0,2,9]", "[2,2,7]"), answers)
    assert(answers.distinct.size == 1, answers)
  }

  private val QueryMix = Seq("q_filter_project", "q_semi_join", "q_anti_join",
    "q_union_all", "q_topk_agg", "q_window_topk_orders", "q_events_tumbling",
    "q_traj_distances", "q_traj_pair_stats", "q_traj_com", "q_traj_xtc_scan")
}
