package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType

/** Session-conf plumbing of the shard-directory stream (public: the conf
  * key is user-facing surface, and the bench/spec reference it by
  * name). */
object ShardStreams {
  val MaxShardsKey = "spark.graft.stream.maxShardsPerTrigger"

  /** Backlog admission knob: the number of new shards (framesets for
    * dtr) one micro-batch may admit; 0 = unbounded. Without it, a
    * restart against a large backlog plans ONE batch over every
    * outstanding shard: no checkpoint progress until the whole backlog
    * commits, and a mid-drain failure re-reads all of it. Read from the
    * session conf at stream construction, validated fail-fast. */
  def maxShardsPerTrigger(): Int = {
    val v = org.apache.spark.sql.SparkSession.active.conf
      .get(MaxShardsKey, "0")
    val n = try v.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$MaxShardsKey must be a non-negative integer, got '$v'")
    }
    require(n >= 0,
      s"$MaxShardsKey must be >= 0 (0 = unbounded), got $n")
    n
  }

  /** The admission arithmetic. Honors the ENGINE-passed limit only: the
    * configured knob already reaches the engine via
    * `getDefaultReadLimit`, and the engine deliberately overrides it —
    * `Trigger.Once` passes `ReadLimit.allAvailable()` to mean "one batch
    * containing everything". Capping that batch at the configured size
    * would make a Trigger.Once run terminate "successfully" with most of
    * the backlog silently unread. */
  def admit(start: Int, total: Int, limit: ReadLimit): Int =
    limit match {
      case mf: ReadMaxFiles => math.min(total, start + mf.maxFiles())
      case _ => total
    }
}

/** Offsets are shard counts over the name-sorted listing. */
case class ShardFileOffset(fileCount: Int) extends Offset {
  override def json(): String = fileCount.toString
}

/** The one micro-batch stream of every frame source (SURVEY §2.8): a
  * directory that immutable shards appear in — files with the codec's
  * extensions, or for dtr frameset directories whose `timekeys` exists
  * ([[FrameCodec.isShard]]). Offsets are shard counts over the
  * name-sorted listing, so shards must arrive in ascending name order
  * (true for the write paths' zero-padded `part-NNNNN` names). Each
  * micro-batch plans its new shards with the codec's batch planner,
  * re-based so global frame ids continue across shards and
  * micro-batches; the `top=` check covers every shard a batch admits.
  * Per-shard frame counts are cached per path (shards are immutable):
  * freshly planned shards record the count their plan indexed, and only
  * the predecessors of a recovered offset are probed again.
  *
  * Usage: `spark.readStream.format(fmt).load(dir)`. */
private[sources] final class ShardStream(codec: FrameCodec, dir: String,
    chunks: Int, schema: StructType)
    extends MicroBatchStream with SupportsAdmissionControl {

  /** Captured at construction (driver-side, active session present). */
  private val maxShards: Int = ShardStreams.maxShardsPerTrigger()

  override def getDefaultReadLimit: ReadLimit =
    if (maxShards > 0) ReadLimit.maxFiles(maxShards)
    else ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    ShardFileOffset(ShardStreams.admit(
      start.asInstanceOf[ShardFileOffset].fileCount,
      listShards().length, limit))

  override def reportLatestOffset(): Offset =
    ShardFileOffset(listShards().length)

  private def listShards(): Seq[String] =
    if (!FsIO.isDirectory(dir)) Nil
    else FsIO.list(dir).filter(codec.isShard).map(_.path)

  private val frameCache =
    scala.collection.mutable.HashMap.empty[String, Long]
  private def frames(p: String): Long =
    frameCache.getOrElseUpdate(p, codec.index(p, Long.MaxValue).frames)

  override def initialOffset(): Offset = ShardFileOffset(0)
  override def latestOffset(): Offset =
    ShardFileOffset(listShards().length)
  override def deserializeOffset(json: String): Offset =
    ShardFileOffset(json.trim.toInt)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ShardFileOffset].fileCount
    val e = end.asInstanceOf[ShardFileOffset].fileCount
    val shards = listShards()
    val base = (0 until math.min(s, shards.length))
      .map(i => frames(shards(i))).sum
    val batch = shards.slice(s, math.min(e, shards.length))
    codec.checkTop(batch)
    val (parts, counts) =
      codec.plan(batch, base, 0L, Long.MaxValue, Long.MaxValue, chunks)
    batch.zip(counts).foreach { case (p, n) => frameCache.put(p, n) }
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FrameReaderFactory(codec, schema, 0, Int.MaxValue, None)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
