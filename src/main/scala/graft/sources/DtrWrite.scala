package graft.sources

import java.io.OutputStream
import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable.ArrayBuffer

/** Frameset writer for the dtr payload profile [[DtrDataSource]]
  * documents: `metadata` + `timekeys` + `frame%09d` files each holding
  * `framesPerFile` fixed-size frames. Used by the round-trip specs and
  * as the materializing sink for frameset output. Coordinates are
  * written as given (the read side applies `unit_scale`). */
object DtrWrite {
  /** One frame: positions (float32 triples) + optional box
    * (a, b, c, alpha, beta, gamma) + its time stamp. */
  case class Frame(xs: Array[Float], ys: Array[Float], zs: Array[Float],
      box: Option[(Double, Double, Double, Double, Double, Double)],
      time: Double)

  def write(dir: String, frames: Seq[Frame],
      framesPerFile: Int = 256): Unit = {
    require(frames.nonEmpty, "dtr write: no frames")
    val set = new DtrSetWriter(dir, framesPerFile)
    try {
      frames.foreach(f => set.add(f.xs, f.ys, f.zs, f.box, f.time))
      set.finish()
    } finally set.close()
  }
}

/** Streams frames into one frameset directory, made at the first
  * frame, which also fixes the atom count and box presence. Frames go
  * to the payload files as they arrive; `finish` writes `metadata` and
  * then `timekeys` (a streamed collection takes a frameset as complete
  * once its timekeys exists). Memory is one frame plus 8 B per frame
  * for the time stamps. */
final class DtrSetWriter(dir: String, framesPerFile: Int)
    extends AutoCloseable {
  require(framesPerFile > 0, "dtr write: framesPerFile must be > 0")
  private val times = ArrayBuffer.empty[Double]
  private var meta: DtrFormat.Meta = _
  private var out: OutputStream = _

  def add(xs: Array[Float], ys: Array[Float], zs: Array[Float],
      box: Option[(Double, Double, Double, Double, Double, Double)],
      time: Double): Unit = {
    val n = xs.length
    if (meta == null) {
      require(n <= 100_000_000,
        s"dtr write: $n atoms exceeds the 1e8 frame-record bound")
      meta = DtrFormat.Meta(n, box.isDefined)
      FsIO.mkdirs(dir)
      if (!FsIO.isDirectory(dir)) throw new java.io.IOException(
        s"dtr write: cannot create frameset directory $dir")
    }
    require(n == meta.nAtoms && ys.length == n && zs.length == n,
      s"dtr write: frame ${times.length} of $dir has $n atoms, its first " +
        s"frame ${meta.nAtoms} (a frameset has one fixed frame layout)")
    require(box.isDefined == meta.hasBox,
      s"dtr write: frame ${times.length} of $dir differs in box presence " +
        "from its first frame (a frameset has one fixed frame layout)")
    if (times.length % framesPerFile == 0) {
      close()
      out = FsIO.createStream(FsIO.child(dir,
        DtrFormat.frameFileName(times.length.toLong / framesPerFile)))
    }
    val bb = ByteBuffer.allocate(DtrFormat.frameBytes(meta).toInt)
      .order(ByteOrder.LITTLE_ENDIAN)
    box.foreach { case (a, b, c, al, be, ga) =>
      bb.putDouble(a).putDouble(b).putDouble(c)
        .putDouble(al).putDouble(be).putDouble(ga)
    }
    var i = 0
    while (i < n) {
      bb.putFloat(xs(i)).putFloat(ys(i)).putFloat(zs(i))
      i += 1
    }
    out.write(bb.array())
    times += time
  }

  def finish(): Unit = {
    close()
    if (times.nonEmpty) {
      val m = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      m.putInt(DtrFormat.MetaMagic).putInt(1).putInt(meta.nAtoms)
        .putInt(if (meta.hasBox) 1 else 0)
      FsIO.writeBytes(FsIO.child(dir, "metadata"), m.array())
      val keys = ByteBuffer.allocate(16 + 8 * times.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      keys.putInt(DtrFormat.KeysMagic).putInt(framesPerFile)
        .putLong(times.length.toLong)
      times.foreach(keys.putDouble)
      FsIO.writeBytes(FsIO.child(dir, "timekeys"), keys.array())
    }
  }

  override def close(): Unit = if (out != null) out.close()
}
