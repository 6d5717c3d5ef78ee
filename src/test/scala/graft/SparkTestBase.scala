package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** The Spark jobs `body` starts, counted on its own job group. A
    * one-task fence job in another group runs after `body`; the
    * listener bus delivers events in order, so once the fence's start
    * arrives every job `body` started has been counted, also none. */
  def jobsOf(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val tag = s"jobs-${UUID.randomUUID}"
    val jobs = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == tag => jobs.incrementAndGet()
          case Some(g) if g == s"$tag-fence" => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g, interruptOnCancel = false)
      try f finally sc.clearJobGroup()
    }
    try {
      inGroup(tag)(body)
      inGroup(s"$tag-fence")(sc.parallelize(Seq(1), 1).count())
      assert(fenced.await(30, TimeUnit.SECONDS), "the fence job never started")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
