package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (forked test JVM):
  * Bench's session config ([[GraftSession]]) plus the extensions. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder()
      .appName("graft-tests")
      // the cluster-deployment surface: functions injected at session
      // build (GraftExtensionsSpec asserts they resolve unregistered)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
