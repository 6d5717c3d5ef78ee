package graft.rel

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructType}

import graft.util.SharedArtifacts

/** Loaders for the harness star-schema parquet tables (FIXTURES.md §B).
  *
  * Plain `spark.read.parquet` so Catalyst gets the native vectorized
  * parquet source: predicate pushdown, column pruning and partition
  * planning all apply. At 100 TB these would be the same calls over a
  * partitioned table root; nothing here materializes on the driver.
  */
object Tables {
  /** `dir/name.parquet`, read with the schema its footer declares.
    *
    * `spark.read.parquet` alone infers the schema with a one-task Spark
    * job per read (about 60 ms of a 70 ms read at bench scale). For a
    * single file the schema comes from [[footer]] instead, so a read
    * runs no job. A directory (a partitioned table root, whose
    * partition columns come from its paths) keeps Spark's inference. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    Try(p.getFileSystem(conf).getFileStatus(p)).toOption.filter(_.isFile) match {
      case Some(st) => spark.read.schema(footer(spark, st, conf).schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** What one parquet footer says: the Spark schema and the row-group
    * count. */
  private[graft] final case class FooterFacts(schema: StructType, rowGroups: Int)

  /** The footer facts of one parquet file, read once per (session,
    * path, length, mtime): a `meta` shared artifact, never evicted.
    * The schema is the one Spark's inference derives from the same
    * footer (`ParquetFileFormat.mergeSchemasInParallel`: the Spark
    * schema stored in the footer, else the parquet schema converted
    * under the session's flags). `nanosAsLong` is one of those flags,
    * hence one memo per session. A rewritten file has a new length or
    * mtime, so it is read again. */
  private[graft] def footer(s: SparkSession, st: FileStatus,
      conf: Configuration): FooterFacts =
    SharedArtifacts.get(s, "meta",
        s"${st.getPath}|${st.getLen}|${st.getModificationTime}") {
      val c = s.sessionState.conf
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = c.isParquetBinaryAsString,
        assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
        inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
        nanosAsLong = c.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = c.parquetReaderRespectUnknownTypeAnnotation)
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try {
        val meta = r.getFooter
        FooterFacts(ParquetFileFormat.readSchemaFromFooter(
          new Footer(st.getPath, meta), converter), meta.getBlocks.size)
      } finally r.close()
    }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** The driver's generator has shipped events.ts as both parquet
    * TIMESTAMP(NANOS) (early rounds; Spark's vectorized reader rejects
    * it, so sessions set spark.sql.legacy.parquet.nanosAsLong=true and
    * ts arrives as a LONG of epoch nanoseconds) and TIMESTAMP(MICROS)
    * (r10+; isAdjustedToUTC=false, so it arrives as TIMESTAMP_NTZ).
    * Normalize both here — the LONG shape via integer div (no double
    * round-trip, 2^63 ns >> any test value), the NTZ shape by
    * assembling epoch micros arithmetically from the NTZ fields
    * (unix_date + HOUR/MINUTE/SECOND extracts are all timezone-free),
    * so the instant equals the wall-clock read as UTC REGARDLESS of
    * spark.sql.session.timeZone — `cast(ntz as timestamp)` would
    * silently shift every instant under a non-UTC session. Every
    * consumer (including streaming watermarks, which reject NTZ) sees
    * one contract: ts is a TIMESTAMP. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(table(s, d, "events"))

  /** See [[events]]; shared with the streaming specs, which stage the
    * same file behind a file-source stream. */
  def normalizeEventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", expr(
          "timestamp_micros(unix_date(cast(ts as date)) * 86400000000L" +
            " + extract(HOUR from ts) * 3600000000L" +
            " + extract(MINUTE from ts) * 60000000L" +
            " + cast(extract(SECOND from ts) * 1000000 as long))"))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
}
