package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `rel.Tables.normalizeEventsTs` — the one adapter between the
  * driver-generated events table and every ts consumer. The driver's
  * generator has shipped `ts` as TIMESTAMP(NANOS) (read as LONG nanos
  * under the session's nanosAsLong flag, rounds ≤9) and as
  * TIMESTAMP(MICROS) NTZ (r10+); the live testdata only exercises ONE
  * shape per round, so this spec pins all three normalization paths
  * against the same wall-clock instant to keep back-compat from
  * rotting silently.
  *
  * `Tables.table` reads a file with the schema its memoized footer
  * declares: the memo must answer as Spark's inference does, run no
  * job, and miss when the file or the session's parquet flags change. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  // 2024-01-01 00:00:00 UTC plus 1.5 s, in each physical shape
  private val epochMicros = 1704067200000000L + 1500000L

  test("LONG nanos, TIMESTAMP_NTZ and TIMESTAMP inputs all normalize " +
    "to the same TIMESTAMP instant (UTC session)") {
    import spark.implicits._
    val asLong = Seq(epochMicros * 1000L).toDF("ts") // nanos
    val asTs = Seq(epochMicros).toDF("us")
      .select(timestamp_micros(col("us")).as("ts"))
    val asNtz = asTs.select(col("ts").cast(TimestampNTZType).as("ts"))

    val outs = Seq(asLong, asTs, asNtz).map(rel.Tables.normalizeEventsTs)
    outs.foreach(df =>
      assert(df.schema("ts").dataType == TimestampType,
        s"expected TIMESTAMP, got ${df.schema("ts").dataType}"))
    val micros = outs.map(
      _.select(unix_micros(col("ts"))).head.getLong(0))
    assert(micros == Seq(epochMicros, epochMicros, epochMicros))
  }

  test("NTZ normalization is session-timezone-independent (ADVICE " +
    "r10: cast(ntz as timestamp) would shift instants off-UTC)") {
    import spark.implicits._
    val asNtz = Seq(epochMicros).toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    val tzKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzKey)
    try {
      for (tz <- Seq("America/New_York", "Asia/Tokyo", "UTC")) {
        spark.conf.set(tzKey, tz)
        val got = rel.Tables.normalizeEventsTs(asNtz)
          .select(unix_micros(col("ts"))).head.getLong(0)
        assert(got == epochMicros, s"instant shifted under $tz")
      }
    } finally spark.conf.set(tzKey, saved)
  }

  test("the live events table normalizes to TIMESTAMP and survives " +
    "an hour-window aggregation") {
    val ev = rel.Tables.events(spark, SparkTestBase.sf)
    assert(ev.schema("ts").dataType == TimestampType)
    val n = ev.groupBy(window(col("ts"), "1 hour")).count().count()
    assert(n > 0)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def status(s: SparkSession, path: String) = {
    val p = new HPath(path)
    p.getFileSystem(s.sessionState.newHadoopConf()).getFileStatus(p)
  }

  /** events.parquet holding one row whose `ts` is `epochMicros` as
    * parquet TIMESTAMP(NANOS), the driver's rounds-≤9 shape. */
  private def writeNanosEvents(path: Path): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    // written beside, then moved: the writer leaves a checksum file
    // that would not match a later rewrite of `path`
    val tmp = Files.createTempDirectory("graft-tables-nanos").resolve("e.parquet")
    val w = ExampleParquetWriter.builder(new HPath(tmp.toString))
      .withConf(new Configuration()).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", epochMicros * 1000L))
    finally w.close()
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING)
  }

  /** events.parquet as one file written by Spark, `ts` TIMESTAMP_NTZ
    * (the driver's r10+ shape). */
  private def writeNtzEvents(path: Path): Unit = {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-tables-ntz")
    Seq(epochMicros).toDF("us").select(lit(1L).as("event_id"),
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      .coalesce(1).write.mode("overwrite").parquet(out.resolve("t").toString)
    val part = Files.list(out.resolve("t")).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, path, StandardCopyOption.REPLACE_EXISTING)
  }

  private def eventsInstant(s: SparkSession, dir: String): Long = {
    val ev = rel.Tables.events(s, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    ev.select(unix_micros(col("ts"))).head.getLong(0)
  }

  test("the footer memo answers as Spark's inference; a hit runs no " +
    "Spark job and reads the same rows") {
    val sf = SparkTestBase.sf
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      withClue(t)(assert(rel.Tables.table(spark, sf, t).schema ==
        spark.read.parquet(s"$sf/$t.parquet").schema))
    val st = status(spark, s"$sf/orders.parquet")
    val conf = spark.sessionState.newHadoopConf()
    assert(rel.Tables.footer(spark, st, conf) eq rel.Tables.footer(spark, st, conf))
    var hit: DataFrame = null
    assert(SparkTestBase.jobsOf(spark) { hit = rel.Tables.orders(spark, sf) } == 0)
    assert(SparkTestBase.jobsOf(spark)(spark.read.parquet(s"$sf/orders.parquet")) > 0,
      "Spark's own read no longer infers with a job: the memo saves nothing")
    assert(rows(hit) == rows(spark.read.parquet(s"$sf/orders.parquet")))
  }

  test("rewriting events.parquet with a new ts type reads its new " +
    "footer, and Tables.events still yields the same TIMESTAMP") {
    val dir = Files.createTempDirectory("graft-tables-events")
    val file = dir.resolve("events.parquet")
    writeNanosEvents(file)
    val nanos = status(spark, file.toString)
    assert(rel.Tables.table(spark, dir.toString, "events").schema("ts").dataType == LongType)
    assert(eventsInstant(spark, dir.toString) == epochMicros)
    writeNtzEvents(file)
    val ntz = status(spark, file.toString)
    assert(ntz.getLen != nanos.getLen || ntz.getModificationTime != nanos.getModificationTime)
    assert(rel.Tables.table(spark, dir.toString, "events").schema("ts").dataType ==
      TimestampNTZType)
    assert(eventsInstant(spark, dir.toString) == epochMicros)
  }

  test("sessions with different nanosAsLong do not share a footer schema") {
    val dir = Files.createTempDirectory("graft-tables-nanos")
    writeNanosEvents(dir.resolve("events.parquet"))
    val asLong = spark.newSession()
    asLong.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val strict = spark.newSession()
    strict.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert(rel.Tables.table(asLong, dir.toString, "events").schema("ts").dataType ==
      LongType)
    // Spark rejects TIMESTAMP(NANOS) unless nanosAsLong is set; the
    // strict session must fail as Spark's own read does, not reuse LONG
    val got = Try(rel.Tables.table(strict, dir.toString, "events").schema)
    val want = Try(strict.read.parquet(dir.resolve("events.parquet").toString).schema)
    assert(got.isFailure && want.isFailure, s"$got vs $want")
  }
}
