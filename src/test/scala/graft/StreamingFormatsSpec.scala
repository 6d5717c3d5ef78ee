package graft

import java.nio.file.Files
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Micro-batch streaming for the five formats that joined the
  * file-stream family last (pdb, lammpstrj, arc, mdcrd, binpos): each
  * drives publish-while-streaming through a memory sink and checks
  * global frame ids continue across shards and micro-batches. (xyz,
  * gro, dcd, trr, inpcrd, dtr have their streaming specs in their own
  * suites — with this plus round 11's xtc/netcdf and round 12's hdf5, all fourteen formats stream.) */
class StreamingFormatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def drive(name: String, dir: String, fmt: String,
      options: Map[String, String], writeShard: (String, Int) => Unit,
      rowsPerShard: Int): Unit = {
    writeShard(dir, 0)
    var reader = spark.readStream.format(fmt)
    options.foreach { case (k, v) => reader = reader.option(k, v) }
    val q = reader.load(dir)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == rowsPerShard)
      writeShard(dir, 1)
      q.processAllAvailable()
      assert(spark.table(name).count() == 2L * rowsPerShard)
      // frame ids are globally contiguous across the two shards
      val maxF = spark.table(name).agg(max("frame_id"))
        .collect()(0).getLong(0)
      val distinct = spark.table(name).select("frame_id").distinct()
        .count()
      assert(distinct == maxF + 1,
        s"$name: expected contiguous frame ids 0..$maxF, got " +
          s"$distinct distinct")
    } finally q.stop()
  }

  test("pdb streaming over MODEL/ENDMDL shards") {
    val dir = Files.createTempDirectory("pdbstr").toString
    def rec(serial: Int, x: Double): String =
      "ATOM  " + f"$serial%5d" + "  CA  ALA A" + f"$serial%4d" + "    " +
        f"$x%8.3f" + f"${2.0}%8.3f" + f"${3.0}%8.3f" +
        "  1.00  0.00           C"
    def shard(d: String, i: Int): Unit = {
      val txt = (1 to 2).map { m =>
        f"MODEL $m%8d\n" + rec(1, i * 100.0 + m) + "\n" +
          rec(2, i * 100.0 + m) + "\nENDMDL\n"
      }.mkString
      Files.writeString(java.nio.file.Paths.get(d, f"part-$i%05d.pdb"),
        txt)
    }
    drive("pdb_stream", dir, "pdb", Map("unit_scale" -> "1.0"),
      shard, rowsPerShard = 4) // 2 models × 2 atoms
  }

  test("lammpstrj streaming over dump shards") {
    val dir = Files.createTempDirectory("lmpstr").toString
    def shard(d: String, i: Int): Unit = {
      val txt =
        s"""ITEM: TIMESTEP
           |${i * 100}
           |ITEM: NUMBER OF ATOMS
           |2
           |ITEM: BOX BOUNDS pp pp pp
           |0.0 6.0
           |1.0 9.0
           |-2.0 8.0
           |ITEM: ATOMS id type x y z
           |1 C ${i + 1}.0 2.0 3.0
           |2 O 4.0 5.0 6.0
           |""".stripMargin
      Files.writeString(
        java.nio.file.Paths.get(d, f"part-$i%05d.lammpstrj"), txt)
    }
    drive("lmp_stream", dir, "lammpstrj", Map("unit_scale" -> "1.0"),
      shard, rowsPerShard = 2) // 1 frame × 2 atoms
  }

  test("arc streaming over archive shards") {
    val dir = Files.createTempDirectory("arcstr").toString
    def shard(d: String, i: Int): Unit = {
      val txt =
        s"""2 sample tinker archive
           |20.0 30.0 40.0 90.0 80.0 70.0
           |1 O ${i + 1}.0 2.0 3.0 8 2
           |2 H 4.0 5.0 6.0 1 1
           |""".stripMargin
      Files.writeString(
        java.nio.file.Paths.get(d, f"part-$i%05d.arc"), txt)
    }
    drive("arc_stream", dir, "arc", Map("unit_scale" -> "1.0"),
      shard, rowsPerShard = 2)
  }

  test("mdcrd streaming over fixed-width shards (natoms/box options " +
    "ride the stream)") {
    val dir = Files.createTempDirectory("crdstr").toString
    def line(vs: Seq[Double]): String = vs.map(v => f"$v%8.3f").mkString
    def shard(d: String, i: Int): Unit = {
      val c = (1 to 12).map(v => v.toDouble + i * 100)
      val txt = (Seq("amber traj") ++ Seq(
        line(c.take(10)), line(c.drop(10)),
        line(Seq(20.0, 30.0, 40.0)))).mkString("", "\n", "\n")
      Files.writeString(
        java.nio.file.Paths.get(d, f"part-$i%05d.mdcrd"), txt)
    }
    drive("crd_stream", dir, "mdcrd",
      Map("natoms" -> "4", "box" -> "true", "unit_scale" -> "1.0"),
      shard, rowsPerShard = 4) // 1 frame × 4 atoms
  }

  test("binpos streaming over fixed-stride binary shards") {
    val dir = Files.createTempDirectory("bpstr").toString
    def shard(d: String, i: Int): Unit = {
      val atoms = 2
      val bb = ByteBuffer.allocate(4 + (4 + 12 * atoms))
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put("fxyz".getBytes("US-ASCII"))
      bb.putInt(atoms)
      (0 until 3 * atoms).foreach(j =>
        bb.putFloat(i * 100f + j))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(d, f"part-$i%05d.binpos"), bb.array())
    }
    drive("bp_stream", dir, "binpos", Map("unit_scale" -> "1.0"),
      shard, rowsPerShard = 2)
  }

  test("1000-shard directory streams to completion with exact row " +
    "accounting (VERDICT r12 #8 — counts pinned, never wall time)") {
    // the many-files layout a 100 TB trajectory actually has: the
    // micro-batch source must enumerate, order, and drain a big shard
    // directory without dropping or double-reading a file. Assertions
    // are integer row accounting (sink rows, progress numInputRows,
    // contiguous global frame ids) — a timing bound would flake under
    // load and prove nothing about correctness at scale.
    val dir = Files.createTempDirectory("xyz1k").toString
    val shards = 1000
    (0 until shards).foreach { i =>
      Files.writeString(
        java.nio.file.Paths.get(dir, f"part-$i%05d.xyz"),
        s"2\n# Step: $i\nC $i.0 1.0 2.0\nO $i.0 3.0 4.0\n")
    }
    val q = spark.readStream.format("xyz").load(dir)
      .writeStream.format("memory").queryName("xyz1k_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val t = spark.table("xyz1k_stream")
      assert(t.count() == 2L * shards)
      val frames = t.select("frame_id").distinct().count()
      val maxF = t.agg(max("frame_id")).collect()(0).getLong(0)
      assert(frames == shards && maxF == shards - 1,
        s"expected contiguous frame ids 0..${shards - 1}, got " +
          s"$frames distinct, max $maxF")
      // progress metrics account for every row exactly once
      val progressRows = q.recentProgress.map(_.numInputRows).sum
      assert(progressRows == 2L * shards,
        s"progress reported $progressRows input rows, expected " +
          s"${2L * shards}")
    } finally q.stop()
  }

  test("maxShardsPerTrigger bounds the backlog batch: a 1000-shard " +
    "directory drains in >= 10 batches of <= 100 shards with exact " +
    "row accounting (VERDICT r15 #4)") {
    // a restart against a big backlog must NOT plan one giant batch:
    // no checkpoint progress until the whole backlog commits, and a
    // mid-drain failure re-reads all of it. The knob is a session
    // conf (read at stream construction), so use a dedicated session.
    val dir = Files.createTempDirectory("xyzadm").toString
    val shards = 1000
    (0 until shards).foreach { i =>
      Files.writeString(
        java.nio.file.Paths.get(dir, f"part-$i%05d.xyz"),
        s"2\n# Step: $i\nC $i.0 1.0 2.0\nO $i.0 3.0 4.0\n")
    }
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.stream.maxShardsPerTrigger", "100")
    // keep every progress record: 10 batches + bookkeeping must not
    // rotate out of recentProgress before the assertions read it
    s2.conf.set("spark.sql.streaming.numRecentProgressUpdates", "200")
    val q = s2.readStream.format("xyz").load(dir)
      .writeStream.format("memory").queryName("xyzadm_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val t = s2.table("xyzadm_stream")
      assert(t.count() == 2L * shards)
      val frames = t.select("frame_id").distinct().count()
      val maxF = t.agg(max("frame_id")).collect()(0).getLong(0)
      assert(frames == shards && maxF == shards - 1,
        s"expected contiguous frame ids 0..${shards - 1}, got " +
          s"$frames distinct, max $maxF")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 10,
        s"expected >= 10 admitted batches at 100 shards/trigger, " +
          s"got ${batches.length} — the knob did not engage")
      val maxBatchRows = batches.map(_.numInputRows).max
      assert(maxBatchRows <= 200,
        s"a batch admitted $maxBatchRows rows (> 100 shards x 2)")
      assert(batches.map(_.numInputRows).sum == 2L * shards,
        "progress rows do not sum to the corpus")
    } finally q.stop()
  }

  test("Trigger.Once drains the WHOLE backlog in one batch even with " +
    "maxShardsPerTrigger set — the engine-passed allAvailable limit " +
    "wins over the configured knob (ADVICE r16)") {
    // Trigger.Once passes ReadLimit.allAvailable() to mean "one batch
    // containing everything". Capping that batch at the configured
    // size made the run terminate "successfully" with most of the
    // backlog silently unread.
    val dir = Files.createTempDirectory("xyzonce").toString
    val shards = 30
    (0 until shards).foreach { i =>
      Files.writeString(
        java.nio.file.Paths.get(dir, f"part-$i%05d.xyz"),
        s"2\n# Step: $i\nC $i.0 1.0 2.0\nO $i.0 3.0 4.0\n")
    }
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.stream.maxShardsPerTrigger", "10")
    val q = s2.readStream.format("xyz").load(dir)
      .writeStream.format("memory").queryName("xyzonce_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.Once())
      .start()
    try {
      q.awaitTermination()
      val t = s2.table("xyzonce_stream")
      assert(t.count() == 2L * shards,
        s"Trigger.Once left backlog unread: ${t.count()} rows of " +
          s"${2L * shards}")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 1 &&
        batches.head.numInputRows == 2L * shards,
        s"expected ONE all-available batch, got " +
          s"${batches.map(_.numInputRows).mkString(",")}")
    } finally q.stop()
  }

  test("ShardStreams.admit honors the engine limit verbatim: " +
    "ReadMaxFiles caps, anything else admits the full backlog") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.ShardStreams
    assert(ShardStreams.admit(0, 1000, ReadLimit.maxFiles(100)) == 100)
    assert(ShardStreams.admit(950, 1000, ReadLimit.maxFiles(100)) == 1000)
    assert(ShardStreams.admit(0, 1000, ReadLimit.allAvailable()) == 1000)
  }

  test("an invalid maxShardsPerTrigger fails fast with a named error") {
    val dir = Files.createTempDirectory("xyzadmbad").toString
    Files.writeString(java.nio.file.Paths.get(dir, "part-00000.xyz"),
      "1\n# Step: 0\nC 0.0 1.0 2.0\n")
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.stream.maxShardsPerTrigger", "-3")
    // the conf is validated at stream construction, which happens in
    // the stream-execution thread — the error surfaces wherever the
    // first query interaction rethrows it
    val e = intercept[Exception] {
      val q = s2.readStream.format("xyz").load(dir)
        .writeStream.format("memory").queryName("xyzadmbad_stream")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("maxShardsPerTrigger")),
      s"error chain does not name the knob: ${chain(e).mkString(" | ")}")
  }

  test("restart from checkpoint resumes at the committed offset with " +
    "exactly-once rows and contiguous global frame ids (VERDICT r14 " +
    "#5)") {
    // The 100 TB north-star's shard directories will see restarts;
    // clean-drain accounting alone doesn't cover them. Three runs of
    // the same query against one checkpoint + durable parquet sink:
    //  1. drain shards 0..4, stop;
    //  2. restart with shards 5..9 present — the NEW stream instance
    //     has an empty frame-count cache, so it must recover the
    //     committed offset (5) from the checkpoint and RE-PROBE the
    //     five consumed shards to re-base global frame ids
    //     (ShardDirMicroBatchStream.probeFrames's offset-recovery
    //     path, untested before this);
    //  3. restart once more with NO new data — nothing may re-emit.
    // All assertions are integer row accounting, never wall time.
    val dir = Files.createTempDirectory("xyzckpt").toString
    val ckpt = Files.createTempDirectory("xyzckpt-c").toString
    val out = Files.createTempDirectory("xyzckpt-o").toString
    val framesPerShard = 2
    def shard(i: Int): Unit = Files.writeString(
      java.nio.file.Paths.get(dir, f"part-$i%05d.xyz"),
      (0 until framesPerShard).map { f =>
        s"2\n# Step: $i.$f\nC $i.0 $f.0 2.0\nO $i.0 $f.0 4.0\n"
      }.mkString)
    def runOnce(): org.apache.spark.sql.streaming.StreamingQueryProgress = {
      val q = spark.readStream.format("xyz").load(dir)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        q.recentProgress.lastOption.orNull
      } finally q.stop()
    }
    (0 until 5).foreach(shard)
    runOnce()
    assert(spark.read.parquet(out).count() ==
      2L * framesPerShard * 5, "first drain row count")

    (5 until 10).foreach(shard)
    val p2 = runOnce()
    // the restart recovered the committed offset — batch 2 started at
    // file 5, not 0 (a restart-from-scratch would double-read)
    assert(p2 != null && p2.sources.head.startOffset == "5",
      s"restart did not resume from the committed offset: " +
        s"${if (p2 == null) "no progress" else p2.sources.head.startOffset}")
    val t = spark.read.parquet(out)
    val totalFrames = 10L * framesPerShard
    assert(t.count() == 2L * totalFrames, "exactly-once row accounting")
    val frames = t.select("frame_id").distinct().count()
    val maxF = t.agg(max("frame_id")).collect()(0).getLong(0)
    assert(frames == totalFrames && maxF == totalFrames - 1,
      s"expected contiguous frame ids 0..${totalFrames - 1} across " +
        s"the restart, got $frames distinct, max $maxF")
    // every frame has exactly 2 atom rows — no partial double-reads
    val dup = t.groupBy("frame_id").count()
      .filter(col("count") =!= 2).count()
    assert(dup == 0, s"$dup frames with row count != 2")

    runOnce()
    assert(spark.read.parquet(out).count() == 2L * totalFrames,
      "an idle restart re-emitted rows")
  }

  /** Every row of `df`, as sortable strings. */
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  CodecFixtures.modeFormats.foreach { fmt =>
    test(s"$fmt: a DROPMALFORMED stream over a shard with one malformed " +
      "frame gives the batch read's rows") {
      val dir = CodecFixtures.malformedDir(fmt)
      val opts = CodecFixtures.options(fmt) + ("mode" -> "DROPMALFORMED")
      val batch = rows(spark.read.format(fmt).options(opts).load(dir))
      assert(batch.nonEmpty && batch.size < 3 * CodecFixtures.nAtoms,
        s"the batch read dropped nothing: ${batch.size} rows")
      val q = spark.readStream.format(fmt).options(opts).load(dir)
        .writeStream.format("memory").queryName(s"bad_${fmt}_stream")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(rows(spark.table(s"bad_${fmt}_stream")) == batch)
      } finally q.stop()
    }
  }

  CodecFixtures.formats.foreach { fmt =>
    test(s"$fmt: maxShardsPerTrigger=2 admits 2 shards of a 5-shard " +
      "backlog in the first micro-batch") {
      val dir = CodecFixtures.dir(fmt, shards = 5, frames = 1)
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.stream.maxShardsPerTrigger", "2")
      val q = s2.readStream.format(fmt).options(CodecFixtures.options(fmt))
        .load(dir)
        .writeStream.format("memory").queryName(s"adm2_${fmt}_stream")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val first = q.recentProgress.filter(_.numInputRows > 0).head
        assert(first.sources.head.endOffset == "2" &&
          first.numInputRows == 2L * CodecFixtures.nAtoms,
          s"first batch: offset ${first.sources.head.endOffset}, " +
            s"${first.numInputRows} rows")
        assert(s2.table(s"adm2_${fmt}_stream").count() ==
          5L * CodecFixtures.nAtoms)
      } finally q.stop()
    }
  }
}
