package graft.tools

import org.apache.spark.scheduler._

/** Profile registered `SparkEntry.queries` entries by name under
  * Bench's session config, without paying for the whole suite. Per
  * query: one cold pass (shared artifacts built inside) that prints
  * every stage's wall time, task count and name, so the query's time
  * can be attributed to a real stage; then `reps` timed warm passes.
  * Every pass runs into the noop sink, Bench's materialization
  * contract. One JSON line per query follows the stage lines.
  *
  * Usage: `runMain graft.tools.Profile q_a [q_b ...]`
  * Env: `SPARK_GRAFT_SF_DIR` (default sf0.1), `SPARK_GRAFT_CPUS`
  * (default 32), `SPARK_GRAFT_PROBE_REPS` (default 3). */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "Profile: pass one or more query names")
    val unknown = args.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"Profile: unknown queries ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "3").toInt.max(1)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (record) {
          val i = e.stageInfo
          val ms = for {
            a <- i.completionTime; b <- i.submissionTime
          } yield a - b
          stages.add(f"[stage] ${ms.getOrElse(-1L)}%6d ms  " +
            f"tasks=${i.numTasks}%4d  ${i.name.takeWhile(_ != '\n').take(110)}")
        }
    })
    args.foreach { q =>
      val fn = graft.SparkEntry.queries(q)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      record = true
      val cold = once()
      record = false
      // stage-completed events reach the listener asynchronously
      Thread.sleep(300)
      stages.forEach(println)
      stages.clear()
      val warm = (1 to reps).map(_ => once())
      println(s"""{"metric":"profile","query":"$q","cold_s":$cold,""" +
        s""""warm_min_s":${warm.min},""" +
        s""""warm_s":[${warm.mkString(",")}],"sf":"$sfDir"}""")
    }
    spark.stop()
  }
}
