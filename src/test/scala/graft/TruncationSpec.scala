package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** A binary trajectory cut mid-frame, read under FAILFAST, either yields
  * exactly its complete frames (the codecs that count frames as the
  * floor of the bytes present: dcd, binpos, netcdf) or fails with an
  * IllegalArgumentException or IllegalStateException naming the
  * format — never a raw EOF, a negative array size or an out-of-memory
  * error. */
class TruncationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val floorCounted = Set("binpos", "dcd", "netcdf")
  private val frames = 4

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  /** The file holding the last frame (dtr: the last frame file). */
  private def lastFile(fmt: String, dir: String): Path = {
    val shard = Files.list(Paths.get(dir)).iterator().next()
    if (fmt != "dtr") shard
    else shard.resolve(f"frame${(frames - 1) / 2}%09d")
  }

  Seq("binpos", "dcd", "dtr", "hdf5", "netcdf", "trr", "xtc").foreach { fmt =>
    test(s"$fmt: a file cut mid-frame reads its whole frames or fails " +
      s"naming $fmt") {
      val dir = CodecFixtures.dir(fmt, shards = 1, frames = frames)
      def read() = spark.read.format(fmt)
        .options(CodecFixtures.options(fmt)).load(dir)
      val whole = read().filter(col("frame_id") < frames - 1)
        .collect().map(_.toString).toSeq.sorted
      val f = lastFile(fmt, dir)
      val bytes = Files.readAllBytes(f)
      // a few bytes, then about half of the last frame's share
      for (cut <- Seq(5, bytes.length / (2 * frames))) {
        Files.write(f, java.util.Arrays.copyOf(bytes, bytes.length - cut))
        if (floorCounted(fmt))
          assert(read().collect().map(_.toString).toSeq.sorted == whole,
            s"cut $cut")
        else {
          val e = intercept[Throwable](read().collect())
          val text = causes(e).map(t => s"${t.getClass.getName}: ${t.getMessage}")
            .mkString("\n")
          assert(causes(e).exists(t => (t.isInstanceOf[IllegalArgumentException] ||
            t.isInstanceOf[IllegalStateException]) &&
            Option(t.getMessage).exists(_.contains(fmt))), s"cut $cut: $text")
          assert(!Seq("EOFException", "NegativeArraySize", "OutOfMemory")
            .exists(text.contains), s"cut $cut: $text")
        }
      }
    }
  }
}
