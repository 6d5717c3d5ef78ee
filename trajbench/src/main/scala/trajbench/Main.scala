package graft.trajbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload: a warm-up over inputs made beforehand from the seed,
  * and the ops of one pass of its closed loop. */
trait Workload {
  /** First load, index walk and untimed warm-up. */
  def setup(spark: SparkSession, tr: Tracer): Unit
  /** One pass; each op returns None when its output checks out, else
    * what was wrong. */
  def pass: IndexedSeq[(String, () => Option[String])]
  /** Work units one op of this name does (frames, pairs), by unit. */
  def work(op: String): Map[String, Double] = Map.empty
  /** Untimed after-loop checks and layer probes; returns failed ops. */
  def finish(spark: SparkSession, tr: Tracer): Seq[OpResult] = Nil
  /** Facts about the inputs recorded with the result. */
  def info: Map[String, Any] = Map.empty
}

/** Span and counter recorder: a no-op unless the run is traced.
  * `on` is switched off for the untraced passes of a traced run. */
final class Tracer(val enabled: Boolean) {
  var on: Boolean = enabled
  val spans = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]

  def time[T](name: String)(body: => T): T = {
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body
      finally add(name, (System.nanoTime() - t0) / 1e9)
    }
  }
  def add(name: String, seconds: Double): Unit =
    if (on) spans.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += seconds
  def put(name: String, v: Double): Unit = if (on) values(name) = v

  /** Set in traced runs: attributes the Spark jobs of a probe. */
  var listener: Option[GroupListener] = None

  /** Runs `body` under its own job group and returns the Spark counters
    * of the jobs it ran (empty counters when untraced). */
  def counted(spark: SparkSession, group: String)(body: => Unit): OpCounters = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    listener.map(_.drain(spark, group)).getOrElse(new OpCounters)
  }
}

/** Writes the seeded inputs of one kind into a directory:
  * `Gen traj_ref|codecs <seed> <dir>`. The caller owns the cache. */
object Gen {
  def main(argv: Array[String]): Unit = {
    val Array(kind, seed, dir) = argv
    kind match {
      case "traj_ref" => TrajRef.generate(seed.toLong, new java.io.File(dir))
      case "codecs" => CodecProbe.generate(seed.toLong, new java.io.File(dir))
    }
  }
}

object Main {

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val tr = new Tracer(a("trace") == "1")
    val workDir = a("work")
    val out = a("out")
    val nproc = Runtime.getRuntime.availableProcessors()

    val w: Workload = workload match {
      case "traj_ref" => new TrajRef(seed, a("traj"), a.get("codecs"), s"$workDir/tmp", tr)
      case "query_mix" => new QueryMix(seed, a("sf"), s"$workDir/check", tr)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.graft.barrier", "local")
      .config("spark.graft.allowQuadratic", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    graft.util.CodegenErrors.install()
    if (tr.enabled) {
      tr.listener = Some(new GroupListener)
      tr.listener.foreach(spark.sparkContext.addSparkListener)
    }

    try w.setup(spark, tr)
    catch { case e: Throwable =>
      System.err.println(s"[trajbench] set-up of $workload failed: $e")
      e.printStackTrace()
      spark.stop()
      sys.exit(3)
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // closed loop, one client: whole passes until the time is spent. A
    // traced run alternates traced and untraced passes (listener
    // removed) to measure what tracing costs.
    val load0 = Host.loadavg()
    val (cpuT0, steal0) = Host.cpuTicks()
    val ops = mutable.ArrayBuffer.empty[OpResult]
    val counters = mutable.ArrayBuffer.empty[OpCounters]
    val util = mutable.ArrayBuffer.empty[(Long, Long)]
    val cg0 = graft.util.CodegenErrors.snapshot()
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    var opIx = 0
    var passIx = 0
    val phaseS = Array(0.0, 0.0) // untraced, traced seconds
    val phaseOps = Array(0, 0)
    while ((System.nanoTime() - t0) / 1e9 < seconds || (tr.enabled && passIx < 2)) {
      tr.on = tr.enabled && passIx % 2 == 0
      val listener = tr.listener.filter(_ => tr.on)
      if (tr.enabled && passIx > 0) tr.listener.foreach { l =>
        if (tr.on) sc.addSparkListener(l) else sc.removeSparkListener(l)
      }
      val p0 = System.nanoTime()
      for ((name, op) <- w.pass) {
        val group = s"op-$opIx"
        sc.setJobGroup(group, name, interruptOnCancel = false)
        val s0 = System.nanoTime()
        val res =
          try op() match {
            case None => OpResult(name, (System.nanoTime() - s0) / 1e9, ok = true)
            case Some(bad) => OpResult(name, (System.nanoTime() - s0) / 1e9,
              ok = false, s"wrong result: $bad")
          } catch { case e: Throwable =>
            OpResult(name, (System.nanoTime() - s0) / 1e9, ok = false,
              s"failed: ${Option(e.getMessage).getOrElse(e.toString).take(300)}")
          }
        sc.clearJobGroup()
        if (!res.ok) System.err.println(s"[trajbench] op $name ${res.error}")
        ops += res
        listener.foreach { l =>
          counters += l.drain(spark, group)
          util += ((sc.getPersistentRDDs.size.toLong,
            sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum))
        }
        opIx += 1
        if (res.ok) phaseOps(if (tr.on) 1 else 0) += 1
      }
      phaseS(if (tr.on) 1 else 0) += (System.nanoTime() - p0) / 1e9
      passIx += 1
    }
    if (tr.enabled && !tr.on) tr.listener.foreach(sc.addSparkListener)
    tr.on = tr.enabled
    val measureS = (System.nanoTime() - t0) / 1e9
    val (cpuT1, steal1) = Host.cpuTicks()
    val load1 = Host.loadavg()
    val cgFallbacks = graft.util.CodegenErrors.snapshot() - cg0
    val peakRss = Host.peakRssMb()

    val failures = try w.finish(spark, tr) catch { case e: Throwable =>
      Seq(OpResult("finish", 0, ok = false, s"failed: $e"))
    }

    if (tr.on) {
      val n = counters.size.max(1).toDouble
      def per(f: OpCounters => Double): Double = counters.map(f).sum / n
      val allTasks = counters.flatMap(_.taskMs).map(_ / 1e3).toSeq
      tr.put("spark.jobs", per(_.jobs.toDouble))
      tr.put("spark.stages", per(_.stages.toDouble))
      tr.put("spark.tasks", per(_.tasks.toDouble))
      tr.put("spark.task_p50_s", Stats.median(allTasks))
      tr.put("spark.task_max_s", per(c => c.taskMs.maxOption.getOrElse(0L) / 1e3))
      tr.put("spark.executor_run_s", per(_.runMs / 1e3))
      tr.put("spark.executor_cpu_s", per(_.cpuNs / 1e9))
      tr.put("spark.gc_s", per(_.gcMs / 1e3))
      tr.put("spark.shuffle_read_bytes", per(_.shuffleRead.toDouble))
      tr.put("spark.shuffle_write_bytes", per(_.shuffleWrite.toDouble))
      tr.put("spark.fetch_wait_s", per(_.fetchWaitMs / 1e3))
      tr.put("spark.spill_bytes", per(_.spill.toDouble))
      tr.put("spark.scheduler_delay_s", per(_.schedDelayMs / 1e3))
      tr.put("util.codegen_fallbacks", cgFallbacks.toDouble)
      val rate = phaseOps.indices.map(i => if (phaseS(i) > 0) phaseOps(i) / phaseS(i) else 0.0)
      tr.put("trace.ops_per_s", rate(1))
      tr.put("trace.overhead_ops_per_s", rate(1) - rate(0))
      util.headOption.foreach { case (r0, b0) =>
        val (r1, b1) = util.last
        tr.put("util.persisted_rdds", r1.toDouble)
        tr.put("util.storage_bytes", b1.toDouble)
        tr.put("util.persisted_rdds_growth", (r1 - r0).toDouble)
        tr.put("util.storage_bytes_growth", (b1 - b0).toDouble)
      }
    }

    val work = mutable.LinkedHashMap.empty[String, Double]
    ops.filter(_.ok).foreach(o => w.work(o.name).foreach { case (k, v) =>
      work(k) = work.getOrElse(k, 0.0) + v })
    val stealPct = if (cpuT1 > cpuT0) 100.0 * (steal1 - steal0) / (cpuT1 - cpuT0) else 0.0
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> tr.on,
      "setup_s" -> setupS, "measure_s" -> measureS,
      "peak_rss_mb" -> peakRss,
      "ops" -> ops.map(o => Map("name" -> o.name, "s" -> o.seconds,
        "ok" -> o.ok, "error" -> o.error)),
      "extra_failures" -> failures.map(o => Map("name" -> o.name, "error" -> o.error)),
      "work" -> work,
      "info" -> w.info,
      "spans" -> tr.spans,
      "layers" -> tr.values,
      "stamp" -> Map(
        "nproc" -> nproc, "master" -> sc.master,
        "steal_pct" -> stealPct, "loadavg_before" -> load0,
        "loadavg_after" -> load1, "java" -> System.getProperty("java.version"),
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(_.getName).mkString(", "),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0))
    spark.stop()
    Files.writeString(Paths.get(out), Json(result) + "\n")
  }
}
