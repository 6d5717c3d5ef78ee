package graft.trajbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** JSON rendering of the result file, through the Jackson Scala module
  * on Spark's classpath. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** One timed operation of a workload's closed loop. */
final case class OpResult(name: String, seconds: Double, ok: Boolean,
    error: String = "")

/** Spark-runtime counters of one operation, gathered from task and
  * stage events of the operation's job group. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite = 0L
  var fetchWaitMs, spill, schedDelayMs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Public-API SparkListener attributing jobs, stages and tasks to the
  * job group that submitted them. Only installed in traced runs. */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, OpCounters]()
  private val ended = ConcurrentHashMap.newKeySet[Int]()
  private val started = new ConcurrentHashMap[String, java.util.Set[Int]]()

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("<none>")
  private def c(g: String): OpCounters =
    counters.computeIfAbsent(g, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    started.computeIfAbsent(g, _ => ConcurrentHashMap.newKeySet[Int]())
      .add(e.jobId)
    c(g).synchronized(c(g).jobs += 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageGroup.put(e.stageInfo.stageId, groupOf(e.properties))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val k = c(stageGroup.getOrDefault(e.stageInfo.stageId, "<none>"))
    k.synchronized(k.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = c(stageGroup.getOrDefault(e.stageId, "<none>"))
    val m = e.taskMetrics
    val info = e.taskInfo
    k.synchronized {
      k.tasks += 1
      k.taskMs += info.duration
      if (m != null) {
        k.runMs += m.executorRunTime
        k.cpuNs += m.executorCpuTime
        k.gcMs += m.jvmGCTime
        k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        k.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        k.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
      }
    }
  }

  /** Waits until every job the status tracker lists for `group`, and
    * every job this listener saw start for it, has ended here; then
    * returns and forgets the group's counters. */
  def drain(spark: SparkSession, group: String): OpCounters = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    var stablePolls = 0
    while (stablePolls < 2 && System.nanoTime() < deadline) {
      val ids = spark.sparkContext.statusTracker.getJobIdsForGroup(group).toSet ++
        Option(started.get(group)).map(_.asScala.toSet).getOrElse(Set.empty)
      if (ids.forall(i => ended.contains(i))) stablePolls += 1
      else stablePolls = 0
      Thread.sleep(5)
    }
    started.remove(group)
    Option(counters.remove(group)).getOrElse(new OpCounters)
  }
}

/** Host and process readings stamped on every run. */
object Host {
  def loadavg(): String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "unavailable" }

  /** (total, steal) jiffies from /proc/stat. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
        .get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => (0L, 0L) }

  private def procField(file: String, key: String): Long =
    try java.nio.file.Files.readAllLines(java.nio.file.Paths.get(file))
      .asScala.find(_.startsWith(key))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: Throwable => 0L }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = procField("/proc/self/status", "VmHWM:") / 1024.0
  /** Bytes this process has read / written through syscalls. */
  def rchar(): Long = procField("/proc/self/io", "rchar:")
  def wchar(): Long = procField("/proc/self/io", "wchar:")
}

/** Small helpers shared by the workloads. */
object Ops {
  /** Executes a DataFrame without collecting it, as `Bench` does. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
