package graft.tools


/** Dumps `.explain("formatted")` for named registered queries into
  * per-query text files — the round's plan-evidence artifacts
  * (`plans/rNN/<query>_{before,after}.txt`).
  *
  * Usage: `runMain graft.tools.PlanDump <outDir> <suffix> q_a [q_b ...]`
  * (suffix is `before` / `after`). Env: `SPARK_GRAFT_SF_DIR` (default
  * sf0.1), `SPARK_GRAFT_CPUS` (default 32). The session is Bench's
  * ([[graft.GraftSession]]), so the dumped initial plans are the ones
  * the bench actually executes. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "PlanDump: <outDir> <suffix> <query> [query ...]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"PlanDump: unknown queries ${unknown.mkString(", ")}")
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // queryExecution.explainString is what explain() prints
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        outDir.resolve(s"${name}_$suffix.txt"), txt)
      println(s"[plandump] wrote ${name}_$suffix.txt " +
        s"(${txt.count(_ == '\n')} lines)")
    }
    spark.stop()
  }
}
