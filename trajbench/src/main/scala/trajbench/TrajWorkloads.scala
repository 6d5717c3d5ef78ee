package graft.trajbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.sources.{DcdWrite, Hdf5Write, NetcdfWrite, TrrWrite, XtcWrite}

/** Row count and x + 2y + 3z checksum of a trajectory DataFrame. */
object Checksum {
  def of(df: DataFrame): (Long, Double) = {
    val r = df.agg(count(lit(1)), sum(col("x").cast("double") +
      col("y").cast("double") * 2 + col("z").cast("double") * 3)).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
  }

  /** None when (rows, sum) matches the expectation within `quantum`
    * per stored coordinate (6 coordinate-weights per row). */
  def verify(got: (Long, Double), want: (Long, Double), quantum: Double): Option[String] = {
    val tol = 1e-6 * math.abs(want._2) + 6.0 * quantum * want._1
    if (got._1 != want._1) Some(s"rows ${got._1} != ${want._1}")
    else if (math.abs(got._2 - want._2) > tol)
      Some(f"checksum ${got._2}%.6f != ${want._2}%.6f (tol $tol%.3g)")
    else None
  }
}

/** The paper's workload at its published shape: 1,251 frames x 22,561
  * atoms of XTC; each op scans, keeps atoms < 500, gathers each frame's
  * slice and runs `pair_dist_stats` over its C(500,2) = 124,750 pairs,
  * then reduces to (n, sum, min, max). `dir` holds what
  * `TrajRef.generate` wrote; `codecDir`, in traced runs, what
  * `CodecProbe.generate` wrote. */
final class TrajRef(seed: Long, dir: String, codecDir: Option[String],
    tmpRoot: String, tr: Tracer) extends Workload {
  import TrajRef._
  private val file = new File(dir, "traj.xtc").getPath
  private val want: TrajGen.PairStats = {
    val e = Files.readString(new File(dir, "expected.txt").toPath).trim.split(" ")
    TrajGen.PairStats(e(0).toLong, e(1).toDouble, e(2).toDouble,
      e(3).toDouble, e(4).toDouble)
  }
  private var df: DataFrame = _

  private def sliced: DataFrame = slicedOf(df)

  private def slicedOf(src: DataFrame): DataFrame =
    src.filter(col("atom_id") < slice)
      .select(col("frame_id"), col("atom_id"), col("x"), col("y"), col("z"))

  private def gathered: DataFrame = gatheredOf(sliced)

  private def gatheredOf(sliced: DataFrame): DataFrame =
    sliced.groupBy("frame_id")
      .agg(sort_array(collect_list(struct(col("atom_id"), col("x"),
        col("y"), col("z")))).as("a"))

  private def reduced(frames: DataFrame): DataFrame =
    frames.select(expr("pair_dist_stats(transform(a, s -> s.x), " +
        "transform(a, s -> s.y), transform(a, s -> s.z))").as("st"))
      .agg(sum(col("st.cnt")).as("n"), sum(col("st.sum")).as("sum_d"),
        min(col("st.mn")).as("min_d"), max(col("st.mx")).as("max_d"))

  /** Exact distance count; sum, min and max within XTC quantization of
    * the serial pass over the same quantized coordinates. */
  private def check(n: Long, s: Double, mn: Double, mx: Double): Option[String] =
    if (n != want.nDists) Some(s"n_dists $n != ${want.nDists}")
    else if (math.abs(s - want.sum) > 1e-6 * want.sum)
      Some(s"sum $s != ${want.sum}")
    else if (math.abs(mn - want.min) > 2e-3 || math.abs(mx - want.max) > 2e-3)
      Some(s"min/max $mn/$mx != ${want.min}/${want.max}")
    else None

  private def fullOp(): Option[String] = {
    val r = reduced(gathered).collect()(0)
    check(r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
  }

  def setup(spark: SparkSession, tr: Tracer): Unit = {
    tr.time("sources.index_s") {
      df = spark.read.format("xtc").option("chunks", 40).load(file)
      df.rdd.getNumPartitions
    }
    fullOp().foreach(bad => throw new IllegalStateException(s"warm-up: $bad"))
    // JIT warm-up on the first quarter of the frames
    val quarter = df.filter(col("frame_id") < frames / 4)
    for (_ <- 1 to 4) reduced(gatheredOf(slicedOf(quarter))).collect()
  }

  val pass = IndexedSeq("pair_scan" -> (() => fullOp()))

  override def work(op: String): Map[String, Double] =
    Map("pairs" -> (frames * pairs).toDouble, "frames" -> frames.toDouble)

  override def info: Map[String, Any] = Map("n_dists" -> want.nDists,
    "sum" -> want.sum, "min" -> want.min, "max" -> want.max,
    "baseline.serial_pairs_s" -> want.seconds)

  override def finish(spark: SparkSession, tr: Tracer): Seq[OpResult] = {
    tr.put("baseline.serial_pairs_s", want.seconds)
    if (!tr.on) return Nil
    // self times of the op's three layers, each timed on its own
    import Ops.{noop, timed}
    val scan, gather, kernel = collection.mutable.ArrayBuffer.empty[Double]
    var shuffled = 0L
    for (i <- 1 to 2) {
      val rc0 = Host.rchar()
      scan += timed(noop(sliced))
      tr.put("sources.bytes_read", (Host.rchar() - rc0).toDouble)
      val t0 = System.nanoTime()
      shuffled = tr.counted(spark, s"gather-$i")(noop(gathered)).shuffleWrite
      gather += (System.nanoTime() - t0) / 1e9
    }
    // persisting registers the plan with the cache manager, so the
    // kernel is timed only after the gather timings above
    val cached = gathered.persist()
    cached.count()
    for (_ <- 1 to 2) kernel += timed(reduced(cached).collect())
    cached.unpersist(blocking = true)
    val Seq(scanS, gatherS, kernelS) = Seq(scan, gather, kernel).map(x => Stats.median(x.toSeq))
    tr.put("sources.slice_scan_s", scanS)
    tr.put("traj.gather_s", gatherS - scanS)
    tr.put("functions.pair_kernel_s", kernelS)
    tr.put("traj.shuffle_write_bytes", shuffled.toDouble)
    tr.put("traj_ref.layer_sum_s", gatherS + kernelS) // slice_scan + gather + kernel
    tr.put("functions.pair_kernel.ops", (frames * pairs).toDouble)
    // bytes the kernel reads: three float coordinates per sliced atom
    tr.put("functions.pair_kernel.bytes", frames.toDouble * slice * 3 * 4)
    codecDir.toSeq.flatMap(d => new CodecProbe(seed, d, tmpRoot).run(spark, tr))
  }
}

object TrajRef {
  val frames = 1251
  val atoms = 22561
  val slice = 500
  val pairs: Long = slice.toLong * (slice - 1) / 2

  /** Writes the seeded trajectory as `traj.xtc` into `dir`, and the
    * serial pass's (n_dists, sum, min, max, seconds) as `expected.txt`. */
  def generate(seed: Long, dir: File): Unit = {
    val g = new TrajGen(seed, frames, atoms)
    val b = g.box
    // XtcWrite.write is encodeFrame over the frames in order; frames
    // are generated and encoded in parallel batches, then appended
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(new File(dir, "traj.xtc")), 1 << 20)
    try for (batch <- (0 until frames).grouped(64)) {
      val bytes = java.util.stream.IntStream.range(batch.head, batch.last + 1)
        .parallel().mapToObj[Array[Byte]](f => XtcWrite.encodeFrame(XtcWrite.Frame(
          g.frame(f), Array(b, 0, 0, 0, b, 0, 0, 0, b), f.toLong, f.toDouble), f))
        .toArray
      bytes.foreach(x => out.write(x.asInstanceOf[Array[Byte]]))
    } finally out.close()
    val st = TrajGen.serialPairStats(g, slice, 1000f)
    Files.writeString(new File(dir, "expected.txt").toPath,
      s"${st.nDists} ${st.sum} ${st.min} ${st.max} ${st.seconds}")
  }
}

/** The sources layer across codecs, probed in traced traj_ref runs: one
  * seeded 24-frame trajectory in five binary codecs (written through
  * their `*Write` objects) and GRO text, each cold-loaded (index walk),
  * scanned in full, by atom slice and by frame_id range, and written
  * back. Every scan and every read-back is checked against the
  * generator; a mismatch is returned as a failed op. */
final class CodecProbe(seed: Long, dir: String, tmpRoot: String) {
  import CodecProbe._
  import Ops.{noop, timed}
  private val slice = 500
  private val (r0, r1) = (frames / 4, frames / 2) // frame_id range [r0, r1)
  private val g = new TrajGen(seed, frames, atoms)
  // frames in memory, so the timed write-backs encode without generating
  private val xyzNm = (0 until frames).map(g.frame(_))
  private val xyzA = xyzNm.map(_.map(_ * 10f))

  private def fileOf(c: String): String = new File(dir, s"traj.${ext(c)}").getPath

  /** Compares with the generator: XTC and GRO keep 0.001 nm, NetCDF
    * scans return the file's Angstrom. */
  private def check(c: String, df: DataFrame, want: (Long, Double)): Option[String] = {
    val scale = if (c == "netcdf") 10.0 else 1.0
    val quantum = if (c == "xtc" || c == "gro") 5e-4 else 1e-6
    Checksum.verify(Checksum.of(df), (want._1, want._2 * scale), quantum * scale)
  }

  def run(spark: SparkSession, tr: Tracer): Seq[OpResult] = {
    val full = TrajGen.checksum(g, 0, frames, atoms)
    val ranged = TrajGen.checksum(g, r0, r1, atoms)
    val sliced = TrajGen.checksum(g, 0, frames, slice)
    codecs.flatMap { c =>
      var d: DataFrame = null
      tr.put(s"sources.index_s.$c", timed {
        d = spark.read.format(c).load(fileOf(c))
        d.rdd.getNumPartitions
      })
      val rc0 = Host.rchar()
      val scanS = timed(noop(d))
      tr.put(s"sources.bytes_read.$c", (Host.rchar() - rc0).toDouble)
      tr.put(s"sources.scan_s.$c", scanS)
      tr.put(s"sources.decode_mb_per_s.$c", new File(fileOf(c)).length / 1e6 / scanS)
      val sliceDf = d.filter(col("atom_id") < slice)
      tr.put(s"sources.slice_scan_s.$c", timed(noop(sliceDf)))
      val rangeDf = d.filter(col("frame_id") >= r0 && col("frame_id") < r1)
      tr.put(s"sources.pushdown_scan_s.$c", timed(noop(rangeDf)))
      val q = rangeDf.select(col("frame_id"))
      tr.put(s"sources.rows_read_per_row_returned.$c",
        ScanRows.of(q) / q.count().max(1L).toDouble)
      // frames [r0, r1) back out: GRO through its DSv2 writer, the
      // binary codecs through their writer objects
      val out = s"$tmpRoot/codecs/${ext(c)}"
      val rows = if (c == "gro") rangeDf.persist() else null
      if (rows != null) rows.count()
      val wc0 = Host.wchar()
      tr.put(s"sources.write_s.$c", timed {
        if (rows != null) rows.write.format("gro").mode("overwrite").save(out)
        else {
          new File(out).mkdirs()
          write(c, s"$out/traj.${ext(c)}", g.box, xyzNm, xyzA, r0 until r1)
        }
      })
      tr.put(s"sources.bytes_written.$c", (Host.wchar() - wc0).toDouble)
      if (rows != null) rows.unpersist(blocking = true)
      val written = spark.read.format(c).load(if (rows != null) out else s"$out/traj.${ext(c)}")
      Seq("full" -> check(c, d, full), "slice" -> check(c, sliceDf, sliced),
        "range" -> check(c, rangeDf, ranged), "write" -> check(c, written, ranged))
        .collect { case (k, Some(bad)) => OpResult(s"codec.$c.$k", 0, ok = false, bad) }
    }
  }
}

object CodecProbe {
  val frames = 24
  val atoms = 22561
  val codecs = Seq("xtc", "dcd", "trr", "netcdf", "hdf5", "gro")

  def ext(c: String): String = c match {
    case "netcdf" => "nc"
    case "hdf5" => "h5"
    case other => other
  }

  /** Writes the seeded probe trajectory in every codec into `dir`. */
  def generate(seed: Long, dir: File): Unit = {
    val g = new TrajGen(seed, frames, atoms)
    val xyzNm = (0 until frames).map(g.frame(_))
    val xyzA = xyzNm.map(_.map(_ * 10f))
    for (c <- codecs if c != "gro")
      write(c, new File(dir, s"traj.${ext(c)}").getPath, g.box, xyzNm, xyzA, 0 until frames)
    TrajGen.writeGro(new File(dir, "traj.gro").getPath, g)
  }

  /** Encodes frames `idx` through the codec's writer object, from
    * coordinates in nm (`xyzNm`) or, for DCD and NetCDF, Angstrom. */
  def write(c: String, path: String, b: Float, xyzNm: IndexedSeq[Array[Float]],
      xyzA: IndexedSeq[Array[Float]], idx: Range): Unit = c match {
    case "xtc" => XtcWrite.write(path, idx.map(f => XtcWrite.Frame(xyzNm(f),
      Array(b, 0, 0, 0, b, 0, 0, 0, b), f.toLong, f.toDouble)))
    case "trr" => TrrWrite.write(path, idx.map(f => TrrWrite.Frame(xyzNm(f),
      Some(Array(b, 0, 0, 0, b, 0, 0, 0, b)), step = f.toLong, time = f.toDouble)))
    case "hdf5" => Hdf5Write.write(path, idx.map(f => Hdf5Write.Frame(xyzNm(f),
      Some(Array(b, b, b)), Some(Array(90f, 90f, 90f)), f.toFloat)))
    case "dcd" => DcdWrite.write(path, idx.map { f =>
      val a = xyzA(f)
      DcdWrite.Frame(Array.tabulate(atoms)(i => a(3 * i)),
        Array.tabulate(atoms)(i => a(3 * i + 1)), Array.tabulate(atoms)(i => a(3 * i + 2)),
        Some((b * 10.0, b * 10.0, b * 10.0, 90.0, 90.0, 90.0)))
    })
    case "netcdf" => NetcdfWrite.write(path, idx.map(f => NetcdfWrite.Frame(xyzA(f),
      Some(Array(b * 10.0, b * 10.0, b * 10.0)), Some(Array(90.0, 90.0, 90.0)), f.toDouble)))
  }
}

/** Rows the DSv2 scans of an executed query produced (before any
  * Filter above them), from the scans' `numOutputRows` metric. */
object ScanRows extends AdaptiveSparkPlanHelper {
  def of(df: DataFrame): Double = {
    df.collect() // runs df.queryExecution, whose executed plan is read below
    val plan = df.queryExecution.executedPlan
    collect(plan) { case b: BatchScanExec => b.metrics("numOutputRows").value }
      .sum.toDouble
  }
}
