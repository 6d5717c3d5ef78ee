package graft.sources

import java.io.BufferedWriter

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

/** What a writing codec supplies to the write shell ([[FrameCodec.sink]]):
  * the shard name's extension, the columns every written row must
  * carry, and a [[Shard]] opened at the path the shell gives it. */
abstract class FrameSink extends Serializable {
  /** Shards are named `part-NNNNN<ext>`. */
  def ext: String
  def required: Seq[String]
  def open(path: String, schema: StructType): Shard

  /** Whether an entry of the output directory is read by a scan of that
    * directory, whose codec reads files named with `exts`: truncate
    * deletes exactly these entries, and append refuses to write over
    * them. */
  def scanned(e: FsIO.Entry, exts: Seq[String]): Boolean =
    e.isFile && exts.exists(e.name.toLowerCase.endsWith)

  /** Driver side, once every task committed: the names of the shards
    * that hold frames, in partition order. */
  def committed(dir: String, shards: Seq[String]): Unit = ()
}

/** One shard's record writer. The shell hands it each frame's rows in
  * order, then calls `finish` at task commit; `close` follows commit
  * and abort. */
abstract class Shard(schema: StructType) extends AutoCloseable {
  /** One frame: its rows, in input order, all with one `frame_id`. */
  def frame(rows: collection.IndexedSeq[InternalRow]): Unit
  /** Writes what follows the last frame. */
  def finish(): Unit = ()

  /** The ordinal of column `name` in the written rows, -1 when absent. */
  protected def col(name: String): Int = schema.fieldNames.indexOf(name)
  protected def present(r: InternalRow, i: Int): Boolean = i >= 0 && !r.isNullAt(i)
  protected def float(r: InternalRow, i: Int, orElse: Float): Float =
    if (present(r, i)) r.getFloat(i) else orElse
  protected def int(r: InternalRow, i: Int, orElse: Int): Int =
    if (present(r, i)) r.getInt(i) else orElse
  protected def str(r: InternalRow, i: Int, orElse: String): String =
    if (present(r, i)) r.getUTF8String(i).toString else orElse
  /** The `time` column, or the frame id when it is absent or null. */
  protected def time(r: InternalRow): Double = {
    val i = col("time")
    if (present(r, i)) r.getDouble(i) else r.getLong(col("frame_id")).toDouble
  }
  /** Locale-pinned formatting: '.' decimal separators whatever the JVM
    * default locale, as the readers and the formats expect. */
  protected def fmt(pattern: String, args: Any*): String =
    String.format(java.util.Locale.ROOT, pattern,
      args.map(_.asInstanceOf[AnyRef]): _*)
}

/** A UTF-8 text shard. */
abstract class TextShard(path: String, schema: StructType)
    extends Shard(schema) {
  protected val out: BufferedWriter = FsIO.createWriter(path)
  protected def line(s: String): Unit = { out.write(s); out.newLine() }
  override def close(): Unit = out.close()
}

/** The write half of the frame-codec shell: one DSv2 write chain for
  * every writing codec. It owns the shard-commit protocol:
  *  - the required-column check, on the driver, before anything is
  *    deleted;
  *  - truncate (`mode("overwrite")`) deletes exactly the directory
  *    entries the codec's scan reads ([[FrameSink.scanned]]);
  *  - append into a directory that holds such entries fails, since
  *    its shard names would overwrite them; into an absent or empty
  *    directory it writes;
  *  - task `p`, attempt `t` writes `part-p.<ext>.attempt-t`, which no
  *    scan, streamed listing or truncate matches, and renames it to
  *    `part-p.<ext>` at task commit (Spark's commit coordinator admits
  *    one attempt per partition). A losing or aborted attempt deletes
  *    only its own output;
  *  - frame boundaries: rows of one frame are consecutive within a
  *    partition and a frame does not straddle partitions
  *    (`repartitionByRange(frame_id)` + `sortWithinPartitions(frame_id,
  *    atom_id)` provide both). A shard gets one frame's rows at a time,
  *    so a task holds one frame, never the whole partition;
  *  - job abort deletes the shards its committed tasks published.
  * A task whose shard gets no frame still publishes what its sink
  * wrote (an empty text shard, binpos's magic); a sink that writes
  * nothing before the first frame (dtr) publishes nothing. */
class FrameWriteBuilder(codec: FrameCodec, sink: FrameSink, dir: String,
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate {
  private var truncating = false
  override def truncate(): WriteBuilder = { truncating = true; this }
  override def build(): Write =
    new FrameWrite(codec, sink, dir, info.schema(), truncating)
}

class FrameWrite(codec: FrameCodec, sink: FrameSink, dir: String,
    schema: StructType, truncating: Boolean) extends Write with BatchWrite {
  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    if (!sink.required.forall(schema.fieldNames.contains))
      throw new IllegalArgumentException(s"${codec.name} write needs " +
        s"columns ${sink.required.mkString(", ")}; got " +
        schema.fieldNames.mkString(", "))
    val output =
      if (FsIO.exists(dir)) FsIO.list(dir).filter(sink.scanned(_, codec.extensions))
      else Nil
    if (truncating) output.foreach(e => FsIO.delete(e.path, recursive = !e.isFile))
    else if (output.nonEmpty) throw new IllegalArgumentException(
      s"${codec.name} write: $dir already holds ${codec.name} output and " +
        "append mode is not supported (the new shards' names would " +
        "overwrite it) — use mode(\"overwrite\")")
    FsIO.mkdirs(dir)
    new FrameWriterFactory(sink, dir, schema)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    sink.committed(dir, messages.collect {
      case ShardCommit(p, name, frames) if frames > 0 => (p, name)
    }.sortBy(_._1).map(_._2).toSeq)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case ShardCommit(_, name, _) =>
        FsIO.delete(FsIO.child(dir, name), recursive = true)
      case _ => // a task that never committed
    }
}

class FrameWriterFactory(sink: FrameSink, dir: String, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new FrameDataWriter(sink, dir, schema, partitionId, taskId)
}

private[sources] case class ShardCommit(partitionId: Int, name: String,
    frames: Long) extends WriterCommitMessage

class FrameDataWriter(sink: FrameSink, dir: String, schema: StructType,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {
  private val name = f"part-$partitionId%05d${sink.ext}"
  private val attempt = FsIO.child(dir, s"$name.attempt-$taskId")
  private val shard = sink.open(attempt, schema)
  private val iFrame = schema.fieldIndex("frame_id")
  private val rows = ArrayBuffer.empty[InternalRow]
  private var frames = 0L

  private def flush(): Unit = if (rows.nonEmpty) {
    shard.frame(rows)
    rows.clear()
    frames += 1
  }

  override def write(row: InternalRow): Unit = {
    if (rows.nonEmpty && row.getLong(iFrame) != rows(0).getLong(iFrame))
      flush()
    rows += row.copy()
  }

  override def commit(): WriterCommitMessage = {
    flush()
    shard.finish()
    shard.close()
    if (FsIO.exists(attempt)) FsIO.rename(attempt, FsIO.child(dir, name))
    ShardCommit(partitionId, name, frames)
  }

  override def abort(): Unit =
    try shard.close()
    finally if (FsIO.exists(attempt)) FsIO.delete(attempt, recursive = true)

  override def close(): Unit = ()
}
