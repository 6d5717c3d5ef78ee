package graft

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, TableProvider}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory,
  LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, WriterCommitMessage}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** The shard-commit protocol of the eight DSv2 trajectory writers:
  *  - append into a directory that already holds shards fails, naming
  *    the format, the path and `mode("overwrite")`, and leaves every
  *    byte in place; append into an absent or empty directory writes;
  *  - two task attempts of one partition: the committed attempt's shard
  *    survives, byte for byte, a losing attempt that wrote the same
  *    partition and then aborted;
  *  - job abort deletes the shards its committed tasks published;
  *  - rows without a required column fail before truncate deletes
  *    anything. */
class ShardCommitSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** Every column any writable source's schema names: 4 frames of 3
    * atoms. */
  private lazy val wide: DataFrame =
    spark.range(0, 4).selectExpr("id AS frame_id")
      .crossJoin(spark.range(0, 3).selectExpr("CAST(id AS INT) AS atom_id"))
      .selectExpr(Seq("*",
        "CAST(frame_id * 0.5 AS DOUBLE) AS time",
        "'C' AS element", "'CA' AS name", "'CA' AS atom_name",
        "'ALA' AS res_name", "1 AS res_id", "1 AS res_seq",
        "atom_id + 1 AS serial", "'A' AS chain",
        "CAST(frame_id + atom_id * 0.125 AS FLOAT) AS x",
        "CAST(1.25 AS FLOAT) AS y", "CAST(atom_id AS FLOAT) AS z") ++
        Seq("box_a" -> 2.0, "box_b" -> 3.0, "box_c" -> 4.0,
          "box_alpha" -> 90.0, "box_beta" -> 90.0, "box_gamma" -> 90.0,
          "box_x" -> 2.0, "box_y" -> 3.0, "box_z" -> 4.0,
          "bv1x" -> 2.0, "bv1y" -> 0.0, "bv1z" -> 0.0, "bv2x" -> 0.0,
          "bv2y" -> 3.0, "bv2z" -> 0.0, "bv3x" -> 0.0, "bv3y" -> 0.0,
          "bv3z" -> 4.0).map { case (c, v) =>
          s"CAST($v AS FLOAT) AS $c"
        }: _*)

  /** format, provider, schema, options (mdcrd's read needs `natoms`). */
  private val formats: Seq[(String, () => TableProvider, StructType,
      Map[String, String])] = Seq(
    ("arc", () => new ArcDataSource, ArcTable.Schema, Map.empty),
    ("binpos", () => new BinposDataSource, BinposTable.Schema, Map.empty),
    ("dtr", () => new DtrDataSource, DtrTable.Schema, Map.empty),
    ("gro", () => new GroDataSource, GroTable.Schema, Map.empty),
    ("lammpstrj", () => new LammpstrjDataSource, LammpstrjTable.Schema,
      Map.empty),
    ("mdcrd", () => new MdcrdDataSource, MdcrdTable.Schema,
      Map("box" -> "true", "natoms" -> "3")),
    ("pdb", () => new PdbDataSource, PdbTable.Schema, Map.empty),
    ("xyz", () => new XyzDataSource, XyzTable.Schema, Map.empty))

  private def frames(schema: StructType, parts: Int): DataFrame =
    wide.select(schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
      .repartitionByRange(parts, col("frame_id"))
      .sortWithinPartitions("frame_id", "atom_id")

  private def sha256(p: Path): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Every file under `dir`, by relative name, with its sha256. */
  private def listing(dir: String): Seq[(String, String)] = {
    val root = Path.of(dir)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> sha256(p)).toSeq.sortBy(_._1)
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")

  formats.foreach { case (fmt, _, schema, opts) =>
    test(s"$fmt: append into a directory holding shards fails and keeps " +
      "them; append into an absent or empty directory writes") {
      val df = frames(schema, 2)
      val root = Files.createTempDirectory(s"append_$fmt")
      val dir = root.resolve("out").toString
      df.write.format(fmt).options(opts).mode("append").save(dir)
      val before = listing(dir)
      assert(before.nonEmpty)
      val e = intercept[Exception] {
        df.write.format(fmt).options(opts).mode("append").save(dir)
      }
      val msg = messages(e)
      assert(msg.contains(fmt) && msg.contains(dir) &&
        msg.contains("mode(\"overwrite\")"), msg)
      assert(listing(dir) == before)
      assert(spark.read.format(fmt).options(opts).load(dir).count() == 12)
      val empty = Files.createDirectory(root.resolve("empty")).toString
      df.write.format(fmt).options(opts).mode("append").save(empty)
      assert(spark.read.format(fmt).options(opts).load(empty).count() == 12)
    }
  }

  /** The write chain the table hands Spark for an overwrite of `dir`. */
  private def chain(provider: TableProvider, rowSchema: StructType,
      opts: Map[String, String], dir: String): (BatchWrite, DataWriterFactory) = {
    val props = new java.util.HashMap[String, String]((opts + ("path" -> dir)).asJava)
    val table = provider.getTable(rowSchema, Array.empty, props)
      .asInstanceOf[SupportsWrite]
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        new CaseInsensitiveStringMap(props)
      override def queryId(): String = "shard-commit"
      override def schema(): StructType = rowSchema
    }
    val batch = table.newWriteBuilder(info).asInstanceOf[SupportsTruncate]
      .truncate().build().toBatch
    (batch, batch.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    }))
  }

  formats.foreach { case (fmt, provider, schema, opts) =>
    test(s"$fmt: a losing task attempt leaves the committed shard intact") {
      val rows: Seq[InternalRow] =
        frames(schema, 1).queryExecution.toRdd.map(_.copy()).collect().toSeq
      val (early, late) = rows.splitAt(rows.length / 2)

      // the committed bytes of partition 0 written alone
      val alone = Files.createTempDirectory(s"alone_$fmt").toString
      val (b0, f0) = chain(provider(), schema, opts, alone)
      val w0 = f0.createWriter(0, 7L)
      rows.foreach(w0.write)
      val m0 = w0.commit()
      w0.close()
      b0.commit(Array(m0))

      // a winner and a loser attempt of the same partition interleave;
      // the loser keeps writing after the winner commits, then aborts
      val race = Files.createTempDirectory(s"race_$fmt").toString
      val (b, f) = chain(provider(), schema, opts, race)
      val winner = f.createWriter(0, 1L)
      val loser = f.createWriter(0, 2L)
      rows.foreach(winner.write)
      early.foreach(loser.write)
      val m: WriterCommitMessage = winner.commit()
      winner.close()
      late.foreach(loser.write)
      loser.abort()
      loser.close()
      b.commit(Array(m))

      assert(listing(race) == listing(alone))
      assert(spark.read.format(fmt).options(opts).load(race).count() ==
        rows.length)
    }
  }

  test("job abort deletes the shards its committed tasks published") {
    formats.foreach { case (fmt, provider, schema, opts) =>
      val rows = frames(schema, 1).queryExecution.toRdd.map(_.copy()).collect()
      val dir = Files.createTempDirectory(s"abort_$fmt").toString
      val (b, f) = chain(provider(), schema, opts, dir)
      val w = f.createWriter(0, 1L)
      rows.foreach(w.write)
      val m = w.commit()
      w.close()
      assert(listing(dir).nonEmpty, fmt)
      b.abort(Array(m, null))
      assert(listing(dir).isEmpty, s"$fmt: ${listing(dir)}")
    }
  }

  test("rows without a required column fail before truncate deletes " +
    "anything, naming the format and the columns") {
    val dir = Files.createTempDirectory("required").toString
    frames(XyzTable.Schema, 1).write.format("xyz").mode("overwrite").save(dir)
    val before = listing(dir)
    val e = intercept[IllegalArgumentException] {
      chain(new XyzDataSource, StructType(XyzTable.Schema.filter(_.name != "element")),
        Map.empty, dir)
    }
    assert(e.getMessage.contains("xyz write needs columns frame_id, element, x, y, z"),
      e.getMessage)
    assert(listing(dir) == before)
  }
}
