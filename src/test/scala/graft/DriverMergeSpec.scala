package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DriverMerge, SmallSort}

/** The driver merge of ungrouped aggregates ([[DriverMerge]]): each
  * query answers exactly as Spark's own plan does, with the final
  * merge on the driver and no exchange added, under AQE on and off.
  *
  * The suite's sessions all carry the strategy (the test session
  * injects `GraftExtensions`), so the reference is a `newSession()`
  * that was never `register`ed and has Spark's `Aggregation` strategy
  * installed ahead of every injected one: there every aggregate keeps
  * Spark's partial → `Exchange SinglePartition` → final plan. */
class DriverMergeSpec extends AnyFunSuite {
  private lazy val base = SparkTestBase.spark

  private def session(aqe: Boolean, merge: Boolean): SparkSession = {
    val s = base.newSession()
    s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    if (merge) {
      functions.GraftFunctions.register(s)
      functions.GraftFunctions.register(s)
    } else s.experimental.extraStrategies = Seq(s.sessionState.planner.Aggregation)
    // t: 1,000 rows over 8 partitions; v is null on every 7th row
    s.range(0, 1000, 1, 8).selectExpr("id", "id % 5 AS k",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE id * 0.37 END AS v",
        "CAST(id * 1.25 AS DECIMAL(12, 2)) AS d")
      .createOrReplaceTempView("t")
    // empty: no partitions at all
    s.createDataFrame(s.sparkContext.emptyRDD[Row],
        new StructType().add("v", DoubleType)).createOrReplaceTempView("empty")
    s
  }

  private lazy val sessions: Seq[(Boolean, SparkSession, SparkSession)] =
    Seq(true, false).map(aqe => (aqe, session(aqe, merge = true), session(aqe, merge = false)))

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def occurrences(of: String, in: String): Int = of.r.findAllIn(in).length

  /** `query` in the merging session equals the reference, and the
    * merge fired exactly when `fires`; when it fires, the plan is the
    * reference's less its `Exchange SinglePartition`s and nothing else. */
  private def check(fires: Boolean)(query: SparkSession => DataFrame): Unit =
    for ((aqe, s, ref) <- sessions) withClue(s"aqe=$aqe") {
      val got = query(s)
      val want = query(ref)
      assert(rows(got) == rows(want))
      val plan = planOf(got)
      val refPlan = planOf(want)
      assert(!refPlan.contains("DriverMergeAggregate"), refPlan)
      assert(plan.contains("DriverMergeAggregate") == fires, plan)
      val single = occurrences("Exchange SinglePartition", refPlan)
      if (fires)
        assert(single > 0 && occurrences("Exchange SinglePartition", plan) == 0 &&
          occurrences("Exchange", plan) == occurrences("Exchange", refPlan) - single,
          s"$plan\n$refPlan")
    }

  private val merged = Seq(
    "SELECT sum(v), min(v), max(v), avg(v), count(v), count(*) FROM t",
    "SELECT sum(d), avg(d), min(d), max(d) FROM t",
    "SELECT sum(v) FILTER (WHERE k = 1), count(*) FILTER (WHERE v IS NULL), " +
      "avg(d) FILTER (WHERE id > 500) FROM t",
    "SELECT approx_count_distinct(k), approx_count_distinct(v) FROM t",
    "SELECT first(v), last(v), first(v, true), last(v, true) FROM t",
    // every partition empty: one initial buffer row each
    "SELECT sum(v), count(*), avg(d), max(d) FROM t WHERE id < 0",
    // no partition at all: no partial row
    "SELECT sum(v), count(*), count(v), max(v) FROM empty",
    // over a grouped aggregate's exchange, and over another merge
    "SELECT count(*), sum(s), max(s) FROM (SELECT k, sum(v) AS s FROM t GROUP BY k)",
    "SELECT count(*), sum(s) FROM (SELECT sum(v) AS s FROM t)",
    // scalar subqueries: one plans the merge, one is in its result
    "SELECT id, v FROM t WHERE v > (SELECT avg(v) FROM t)",
    "SELECT sum(v) + (SELECT max(d) FROM t), count(*) FROM t")

  test("register installs the strategy once") {
    for ((_, s, ref) <- sessions; strategy <- Seq(DriverMerge, SmallSort)) {
      assert(s.experimental.extraStrategies.count(_ == strategy) == 1)
      assert(!ref.experimental.extraStrategies.contains(strategy))
    }
  }

  test("ungrouped aggregates merge on the driver with Spark's answers: " +
    "nulls, decimals, FILTER, HyperLogLog, first/last, empty partitions, " +
    "no partitions, nested aggregates and scalar subqueries") {
    for (q <- merged) withClue(q)(check(fires = true)(_.sql(q)))
  }

  test("a noop write, a parquet write, cache() and joins consume the merged row") {
    val q = "SELECT avg(v) AS a, max(k) AS mk, count(*) AS n FROM t"
    for ((aqe, s, ref) <- sessions) withClue(s"aqe=$aqe") {
      s.sql(q).write.format("noop").mode("overwrite").save()
      val dir = Files.createTempDirectory("drivermerge").resolve("out").toString
      s.sql(q).write.parquet(dir)
      assert(rows(s.read.parquet(dir)) == rows(ref.sql(q)))
      val cached = s.sql(q).cache()
      try {
        assert(cached.count() == 1)
        assert(rows(cached) == rows(ref.sql(q)))
      } finally cached.unpersist(blocking = true)
    }
    check(fires = true)(s => s.table("t").join(s.sql(q), col("v") > col("a")))
    check(fires = true)(s => s.table("t").join(s.sql(q), col("k") === col("mk")))
    check(fires = true)(s => s.table("t").crossJoin(s.sql(q)).where(col("id") < 5))
  }

  test("grouped, DISTINCT and collect_list aggregates keep Spark's plan") {
    check(fires = false)(_.sql("SELECT k, sum(v), count(*) FROM t GROUP BY k"))
    check(fires = false)(_.sql("SELECT count(DISTINCT k), sum(v) FROM t"))
    check(fires = false)(_.sql("SELECT sort_array(collect_list(k)) FROM t WHERE id < 20"))
    for ((_, s, _) <- sessions) {
      val plan = planOf(s.sql("SELECT count(DISTINCT k) FROM t"))
      assert(plan.contains("Exchange SinglePartition"), plan)
      val list = planOf(s.sql("SELECT collect_list(k) FROM t"))
      assert(list.contains("ObjectHashAggregate") &&
        list.contains("Exchange SinglePartition"), list)
    }
  }

  test("a streaming ungrouped count keeps its stateful plan") {
    val s = sessions.head._2
    import s.implicits._
    val ms = MemoryStream[Int](s)
    val counted = ms.toDF().agg(count(lit(1)).as("n"), sum("value").as("total"))
    assert(DriverMerge(counted.queryExecution.analyzed).isEmpty)
    val q = counted.writeStream.format("memory").queryName("driver_merge_stream")
      .outputMode("complete").start()
    try {
      ms.addData(1, 2, 3)
      q.processAllAvailable()
      ms.addData(4)
      q.processAllAvailable()
      assert(s.table("driver_merge_stream").collect().map(_.toString).toSeq ==
        Seq("[4,10]"))
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan.toString
      assert(plan.contains("StateStoreSave") && !plan.contains("DriverMergeAggregate"),
        plan)
    } finally q.stop()
  }
}
