package graft.sources

import java.io.BufferedWriter

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

/** DSv2 write path for the pdb format — S6 per-format parity with the
  * xyz and gro writers (same frame-grouped shard contract: rows of one
  * frame consecutive within a partition, one self-contained
  * `part-NNNNN.pdb` file per task). Emits PDB v3.3 fixed-column records:
  * one CRYST1 header per shard (from the first row's box columns, when
  * present), then MODEL / ATOM… / ENDMDL per frame — exactly the record
  * set [[PdbFrameReader]] consumes, so read → write → read is the
  * identity on the scan schema. Coordinates and box lengths are stored
  * in Å (divided by `unit_scale`, default 0.1) so a default-option read
  * recovers the written nm values — the write-side inverse of the
  * reference's `in_units_of` scan normalization
  * (core/dask_traj.py:240-243). */
class PdbWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = {
    val unitScale = ReadOptions.unitScale("pdb", info.options, 0.1)
    new PdbWrite(path, info.schema(), doTruncate, unitScale)
  }
}

class PdbWrite(path: String, schema: StructType, truncate: Boolean,
    unitScale: Double) extends Write {
  override def toBatch: BatchWrite =
    new PdbBatchWrite(path, schema, truncate, unitScale)
}

class PdbBatchWrite(path: String, schema: StructType, truncate: Boolean,
    unitScale: Double) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    if (truncate && FsIO.exists(path))
      FsIO.list(path).filter { e => // all extensions the scan accepts
        e.name.endsWith(".pdb") || e.name.endsWith(".pdb.gz")
      }.foreach(e => FsIO.delete(e.path))
    FsIO.mkdirs(path)
    new PdbWriterFactory(path, schema, unitScale)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class PdbWriterFactory(path: String, schema: StructType, unitScale: Double)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new PdbDataWriter(path, schema, partitionId, unitScale)
}

private case class PdbCommit(partitionId: Int, frames: Long)
    extends WriterCommitMessage

class PdbDataWriter(path: String, schema: StructType, partitionId: Int,
    unitScale: Double) extends DataWriter[InternalRow] {

  private def idx(name: String): Int = schema.fieldNames.indexOf(name)
  private val iFrame = idx("frame_id")
  private val iSerial = idx("serial")
  private val iName = idx("name")
  private val iResName = idx("res_name")
  private val iChain = idx("chain")
  private val iResSeq = idx("res_seq")
  private val iElement = idx("element")
  private val iX = idx("x"); private val iY = idx("y")
  private val iZ = idx("z")
  private val iBox = Array("box_a", "box_b", "box_c",
    "box_alpha", "box_beta", "box_gamma").map(idx)
  require(iFrame >= 0 && iName >= 0 && iResName >= 0 &&
    iX >= 0 && iY >= 0 && iZ >= 0,
    s"pdb write needs columns frame_id, name, res_name, x, y, z; got " +
      schema.fieldNames.mkString(", "))

  /** Locale-pinned formatting (see GroDataWriter): '.' decimal
    * separators regardless of JVM default locale. */
  private def fmt(pattern: String, args: Any*): String =
    String.format(java.util.Locale.ROOT, pattern,
      args.map(_.asInstanceOf[AnyRef]): _*)

  private val file = FsIO.child(path, f"part-$partitionId%05d.pdb")
  private val out: BufferedWriter = FsIO.createWriter(file)
  private var curFrame = Long.MinValue
  private var wroteHeader = false
  private var openModel = false
  private var atomNum = 0
  private var frames = 0L

  private def str(row: InternalRow, i: Int): String =
    if (i >= 0 && !row.isNullAt(i)) row.getUTF8String(i).toString else ""

  override def write(row: InternalRow): Unit = {
    if (!wroteHeader) {
      // one CRYST1 per shard, from the first row's box (lengths back to
      // Å; angles are degrees in both representations)
      if (iBox.forall(i => i >= 0 && !row.isNullAt(i))) {
        out.write("CRYST1" +
          fmt("%9.3f", row.getFloat(iBox(0)) / unitScale) +
          fmt("%9.3f", row.getFloat(iBox(1)) / unitScale) +
          fmt("%9.3f", row.getFloat(iBox(2)) / unitScale) +
          fmt("%7.2f", row.getFloat(iBox(3))) +
          fmt("%7.2f", row.getFloat(iBox(4))) +
          fmt("%7.2f", row.getFloat(iBox(5))) + " P 1           1")
        out.newLine()
      }
      wroteHeader = true
    }
    val f = row.getLong(iFrame)
    if (f != curFrame) {
      if (openModel) { out.write("ENDMDL"); out.newLine() }
      frames += 1
      curFrame = f
      atomNum = 0
      openModel = true
      out.write(fmt("MODEL     %4d", frames))
      out.newLine()
    }
    atomNum += 1
    val serial = if (iSerial >= 0 && !row.isNullAt(iSerial))
      row.getInt(iSerial) else atomNum
    val resSeq = if (iResSeq >= 0 && !row.isNullAt(iResSeq))
      row.getInt(iResSeq) else 1
    val chain = {
      val c = str(row, iChain); if (c.isEmpty) "A" else c.take(1)
    }
    val element = str(row, iElement).takeRight(2)
    out.write("ATOM  " + fmt("%5d", serial) + " " +
      fmt("%-4s", str(row, iName).take(4)) + " " +
      fmt("%-3s", str(row, iResName).take(3)) + " " + chain +
      fmt("%4d", resSeq) + "    " +
      fmt("%8.3f", row.getFloat(iX) / unitScale) +
      fmt("%8.3f", row.getFloat(iY) / unitScale) +
      fmt("%8.3f", row.getFloat(iZ) / unitScale) +
      "  1.00  0.00          " + fmt("%2s", element))
    out.newLine()
  }

  override def commit(): WriterCommitMessage = {
    if (openModel) { out.write("ENDMDL"); out.newLine() }
    out.close()
    PdbCommit(partitionId, frames)
  }

  override def abort(): Unit = {
    out.close()
    FsIO.delete(file)
  }

  override def close(): Unit = ()
}
