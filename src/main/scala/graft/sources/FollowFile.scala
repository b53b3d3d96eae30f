package graft.sources

import java.io.{File, IOException, RandomAccessFile}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** True `tail -f` on ONE growing file — the reference's Follow+ReOpen
  * source (source/fs.go:24-66) as a DataSource V2 micro-batch stream.
  *
  * The directory source (LogSource.stream) models "new data = new
  * files", which fits rotated logs but misses the reference's core
  * case: a single file that keeps growing. This source follows that
  * file by BYTE OFFSET:
  *
  *  - the streaming offset is `(epoch, pos)`: `pos` is a byte position
  *    in the file, always floored to a line boundary so a half-written
  *    line is never emitted — it is picked up whole on a later trigger;
  *  - offsets ride Spark's checkpoint, so a restarted query resumes at
  *    the exact byte where the last committed batch ended (stronger
  *    than the reference, which re-seeks to EOF on restart);
  *  - rotation/truncation (`ReOpen`): when the file is suddenly
  *    SHORTER than the committed position, the source bumps `epoch`
  *    and restarts from byte 0 of the new file, exactly like tail's
  *    reopen-on-truncate. Bytes written to the old inode after the
  *    last trigger are lost, as with polling tail implementations;
  *  - `seekToEnd=true` starts at the current EOF (the reference's
  *    `do_not_tail=false` default), else at byte 0;
  *  - `maxBytesPerTrigger` bounds each micro-batch (newline-floored),
  *    the per-source admission valve for bursty producers;
  *  - a micro-batch's byte range is read as several line-aligned
  *    ranges, one input partition each, sized by Spark's own file-split
  *    rule (the one `spark.read.text` follows), so a backlog drain
  *    parses on every core while a live batch of a few hundred KB stays
  *    one range. Rows across ranges have no defined order.
  *
  * Schema is a single `value: STRING`, feeding the same
  * [[LogSource.parse]] regex stage as every other source. The file
  * must be visible to executors (local mode, NFS, or a fuse mount) —
  * the same constraint the directory source has.
  */
object FollowFile {
  val SCHEMA: StructType =
    StructType(Seq(StructField("value", StringType, nullable = false)))

  private val OffsetRe = """\{"epoch":(\d+),"pos":(\d+)\}""".r

  final case class FollowOffset(epoch: Long, pos: Long) extends Offset {
    override def json: String = s"""{"epoch":$epoch,"pos":$pos}"""
  }

  def parseOffset(json: String): FollowOffset = json.trim match {
    case OffsetRe(e, p) => FollowOffset(e.toLong, p.toLong)
    case other => throw new IllegalArgumentException(s"bad follow-file offset: $other")
  }

  /** Largest position in `(from, to]` just past a '\n', or `from` if
    * the new region holds no complete line yet. Scans backwards in
    * chunks — normally one chunk, since appended text ends near a
    * newline.
    */
  private[sources] def floorToLineEnd(raf: RandomAccessFile, from: Long, to: Long): Long = {
    val buf = new Array[Byte](8192)
    var hi = to
    while (hi > from) {
      val lo = math.max(from, hi - buf.length)
      val n = (hi - lo).toInt
      raf.seek(lo)
      raf.readFully(buf, 0, n)
      var i = n - 1
      while (i >= 0) {
        if (buf(i) == '\n') return lo + i + 1
        i -= 1
      }
      hi = lo
    }
    from
  }

  /** Smallest position in `[pos, to]` that starts a line (just past a
    * '\n', or `to`). `to` must itself start a line — a floored offset.
    * Bytes past the file's current end (truncated since `to` was
    * floored) count as no newline.
    */
  private[sources] def ceilToLineStart(raf: RandomAccessFile, pos: Long, to: Long): Long = {
    val buf = new Array[Byte](8192)
    val avail = math.min(to, raf.length())
    var lo = pos - 1 // the byte before `pos` decides whether `pos` starts a line
    while (lo < avail) {
      val n = math.min(buf.length.toLong, avail - lo).toInt
      raf.seek(lo)
      raf.readFully(buf, 0, n)
      var i = 0
      while (i < n) {
        if (buf(i) == '\n') return lo + i + 1
        i += 1
      }
      lo += n
    }
    to
  }

  /** Cut `[from, end)` into contiguous ranges of about `split` bytes,
    * each cut moved forward to the next line start, so every range
    * holds whole lines. A line longer than `split` stays in one range.
    */
  private[sources] def lineRanges(raf: RandomAccessFile, from: Long, end: Long,
                                  split: Long): Seq[(Long, Long)] = {
    require(split > 0, s"split size must be positive, got $split")
    val out = Seq.newBuilder[(Long, Long)]
    var lo = from
    while (lo < end) {
      val cut = if (end - lo > split) ceilToLineStart(raf, lo + split, end) else end
      out += ((lo, cut))
      lo = cut
    }
    out.result()
  }
}

/** `spark.readStream.format("follow-file").option("path", f)` — also
  * registered by short name via META-INF/services.
  */
class FollowFileDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "follow-file"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = FollowFile.SCHEMA
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new FollowFileTable(properties.asScala.toMap)
}

class FollowFileTable(properties: Map[String, String]) extends Table with SupportsRead {
  private val path = properties.getOrElse("path",
    throw new IllegalArgumentException("follow-file needs option 'path' (one file to follow)"))
  override def name(): String = s"follow-file($path)"
  override def schema(): StructType = FollowFile.SCHEMA
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = FollowFile.SCHEMA
        override def description(): String = name()
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new FollowFileMicroBatchStream(path,
            seekToEnd = properties.get("seekToEnd").exists(_.toBoolean),
            maxBytesPerTrigger = properties.get("maxBytesPerTrigger").map(_.toLong))
      }
    }
}

class FollowFileMicroBatchStream(path: String, seekToEnd: Boolean,
                                 maxBytesPerTrigger: Option[Long])
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  import FollowFile._

  private def fileLength(): Long = {
    val f = new File(path)
    if (f.exists()) f.length() else 0L
  }

  // Trigger.AvailableNow: freeze the goalpost at query start so the run
  // terminates even while a writer keeps appending; maxBytesPerTrigger
  // still paces the drain batch by batch up to this target. Without
  // this the engine would capture ONE capped latestOffset() as the
  // whole run's target and stop after a single batch.
  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(fileLength())

  override def initialOffset(): Offset =
    // seek-to-end starts at the raw EOF: everything already in the
    // file is skipped, including a trailing partial line (whose
    // completion will surface mid-line, as with `tail -f`)
    FollowOffset(0L, if (seekToEnd) fileLength() else 0L)

  override def deserializeOffset(json: String): Offset = parseOffset(json)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "follow-file implements SupportsAdmissionControl.latestOffset(start, limit)")

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[FollowOffset]
    val rawLen = fileLength()
    if (rawLen < start.pos) {
      // shrunk below the committed position: rotated or truncated —
      // reopen from byte 0 under a fresh epoch. The AvailableNow
      // target was captured against the OLD file; "everything
      // available now" for the rest of the drain is the new file's
      // current length, so recapture it for the new epoch.
      availableNowTarget = availableNowTarget.map(_ => rawLen)
      floored(FollowOffset(start.epoch + 1, 0L), rawLen)
    } else {
      // rotation detection looks at the REAL file; the AvailableNow
      // target only bounds how far this run is willing to read
      val len = availableNowTarget.fold(rawLen)(t => math.min(rawLen, t))
      floored(start, len)
    }
  }

  /** Advance from `start` toward `len`, applying the byte cap and
    * flooring to the last complete line in the admitted range.
    */
  private def floored(start: FollowOffset, len: Long): FollowOffset = {
    val capped = maxBytesPerTrigger.fold(len)(m => math.min(len, start.pos + m))
    if (capped <= start.pos) return start
    val raf = try new RandomAccessFile(path, "r") catch {
      case _: IOException => return start // vanished between length() and open
    }
    try FollowOffset(start.epoch, FollowFile.floorToLineEnd(raf, start.pos, capped))
    finally raf.close()
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FollowOffset]
    val e = end.asInstanceOf[FollowOffset]
    // epoch bump = reopened file: the readable content is [0, e.pos)
    val from = if (e.epoch > s.epoch) 0L else s.pos
    if (e.pos <= from) return Array.empty
    val split = FilePartition.maxSplitBytes(SparkSession.active, e.pos - from)
    val ranges =
      if (e.pos - from <= split) Seq((from, e.pos))
      else try {
        val raf = new RandomAccessFile(path, "r")
        try lineRanges(raf, from, e.pos, split) finally raf.close()
      } catch {
        case _: IOException => Seq((from, e.pos)) // vanished: the reader reports it
      }
    ranges.map { case (lo, hi) => FollowFilePartition(path, lo, hi): InputPartition }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new FollowFileReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class FollowFilePartition(path: String, start: Long, end: Long) extends InputPartition {
  // the reader holds the whole range in one byte array
  require(end - start <= FollowFilePartition.MaxBytes,
    s"follow-file range [$start, $end) of $path is ${end - start} bytes, over the " +
      s"${FollowFilePartition.MaxBytes}-byte limit of one read: lower " +
      "spark.sql.files.maxPartitionBytes or set maxBytesPerTrigger")
}

object FollowFilePartition {
  val MaxBytes: Long = Int.MaxValue - 8L // the largest array a JVM allocates
}

class FollowFileReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FollowFileReader(partition.asInstanceOf[FollowFilePartition])
}

/** Reads the byte range `[start, end)` — one line-aligned slice of a
  * micro-batch's appended lines. The range starts and ends on a line
  * boundary (the offset was floored, the cuts moved to line starts), so
  * every emitted line is complete; a trailing '\r' is stripped (CRLF
  * logs), matching Hadoop's line reader.
  */
class FollowFileReader(p: FollowFilePartition) extends PartitionReader[InternalRow] {
  private val bytes: Array[Byte] = {
    val raf = new RandomAccessFile(p.path, "r")
    try {
      // the file may have been truncated between planning and read —
      // take what is still there
      val end = math.min(p.end, raf.length())
      val n = math.max(0L, end - p.start).toInt
      val buf = new Array[Byte](n)
      raf.seek(p.start)
      raf.readFully(buf)
      buf
    } finally raf.close()
  }
  private var cursor = 0
  private var lineStart = 0
  private var lineEnd = 0

  override def next(): Boolean = {
    if (cursor >= bytes.length) return false
    lineStart = cursor
    var i = cursor
    while (i < bytes.length && bytes(i) != '\n') i += 1
    lineEnd = if (i > lineStart && bytes(i - 1) == '\r') i - 1 else i
    cursor = if (i < bytes.length) i + 1 else i
    true
  }

  override def get(): InternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromBytes(bytes, lineStart, lineEnd - lineStart)))

  override def close(): Unit = ()
}
