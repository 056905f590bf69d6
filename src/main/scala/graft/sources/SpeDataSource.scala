package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._

/** DataSource V2 reader for Princeton Instruments WinView/WinSpec
  * `.SPE` CCD image files — the detector-file capability of the
  * reference's `ccd` package (pyspec `ccd/PrincetonSPE.py`
  * `PrincetonSPEFile`: fixed 4100-byte binary header + consecutive
  * row-major frames). The layout encoded here is the public SPE 2.x
  * header (same offsets every open-source reader uses):
  *
  *   offset   10  float32  exposure seconds
  *   offset   42  uint16   xdim (frame width)
  *   offset  108  int16    datatype (0 f32, 1 i32, 2 i16, 3 u16,
  *                         5 f64, 6 u8, 8 u32)
  *   offset  656  uint16   ydim (frame height)
  *   offset 1446  int32    NumFrames
  *   offset 4100  data     frames consecutive, row-major,
  *                         little-endian
  *
  * Every frame has the same size, so a file's frames are arithmetic
  * on its header ([[SpeStack]]): planning reads one 4100-byte header
  * per file and builds no per-frame list, so a million-frame ROI file
  * plans in O(partitions). Planning, pushdown, partitioning, the live
  * tail and the reader are the shared [[FrameSource]] ones.
  *
  * Schema (one row per frame):
  *   file string, frame long, width int, height int, n_frames long,
  *   exp_sec double, datatype string, pixels array<double>
  * (`n_frames` is the header's `NumFrames`, in batch and in stream.)
  */
class SpeDataSource extends FrameSource {
  override def shortName(): String = "spe"
  override protected def format(options: util.Map[String, String]): FrameFormat = SpeFormat
}

object SpeSchema {
  val HeaderBytes = 4100

  val schema: StructType = StructType(Seq(
    StructField("file", StringType),
    StructField("frame", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", LongType),
    StructField("exp_sec", DoubleType),
    StructField("datatype", StringType),
    StructField("pixels", ArrayType(DoubleType))))

  final case class SpeHeader(width: Int, height: Int, datatype: Int,
                             nFrames: Int, expSec: Double) {
    def sample: SampleKind = datatype match {
      case 0 => SampleKind.F32
      case 1 => SampleKind.I32
      case 2 => SampleKind.I16
      case 3 => SampleKind.U16
      case 5 => SampleKind.F64
      case 6 => SampleKind.U8
      case 8 => SampleKind.U32
      case d => throw new IllegalArgumentException(s"unsupported SPE datatype $d")
    }
    def bytesPerPixel: Int = sample.bytes
    def datatypeName: String = datatype match {
      case 0 => "float32"
      case 1 => "int32"
      case 2 => "int16"
      case 3 => "uint16"
      case 5 => "float64"
      case 6 => "uint8"
      case 8 => "uint32"
      case d => s"unknown($d)"
    }
    def frameBytes: Long = width.toLong * height * bytesPerPixel
  }

  /** One bounded positional read of the 4100-byte header; the data
    * section is never touched at planning time. With `strict` (batch
    * reads), truncated or inconsistent files fail here with the path
    * in the message instead of surfacing as a garbled frame later;
    * the streaming source passes `strict = false` because a LIVE file
    * legitimately holds fewer frames than the header's planned
    * `NumFrames` while acquiring.
    */
  def readHeader(path: String, conf: Configuration, strict: Boolean = true): SpeHeader = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    require(len >= HeaderBytes, s"$path: not an SPE file (len $len < header $HeaderBytes)")
    val head = new Array[Byte](HeaderBytes)
    val in = fs.open(p)
    try in.readFully(0L, head) finally in.close()
    val bb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
    val h = SpeHeader(
      width = bb.getShort(42) & 0xFFFF,
      height = bb.getShort(656) & 0xFFFF,
      datatype = bb.getShort(108).toInt,
      nFrames = bb.getInt(1446),
      expSec = bb.getFloat(10).toDouble)
    require(h.width > 0 && h.height > 0 && h.nFrames >= 0,
      s"$path: implausible SPE dims ${h.width}x${h.height}x${h.nFrames}")
    require(!strict || len >= HeaderBytes + h.nFrames * h.frameBytes,
      s"$path: truncated SPE data section (need ${h.nFrames} frames of ${h.frameBytes} B)")
    h
  }
}

/** Frame `index` of an SPE file. */
final case class SpeFrame(h: SpeSchema.SpeHeader, index: Long) extends FrameDesc {
  override def width: Int = h.width
  override def height: Int = h.height
  override def sample: SampleKind = h.sample
  override def littleEndian: Boolean = true
  override def dataBytes: Long = h.frameBytes
  override def dataRanges: Seq[(Long, Long)] =
    Seq((SpeSchema.HeaderBytes + index * h.frameBytes, h.frameBytes))
  override def datatypeName: String = h.datatypeName
  override def column(name: String): Any = name match { case "exp_sec" => h.expSec }
}

/** Frames [first, first + size) of an SPE file. */
final case class SpeStack(h: SpeSchema.SpeHeader, first: Long, size: Long) extends FrameStack {
  override def apply(i: Long): FrameDesc = SpeFrame(h, first + i)
  override def slice(from: Long, until: Long): FrameStack = SpeStack(h, first + from, until - from)
  override def nFramesAt(end: Long): Long = h.nFrames.toLong
  // the greedy default's partitions, computed without visiting each
  // frame: planning stays O(partitions)
  override def runEnd(start: Long, last: Long, cap: Long): Long = {
    val perPart = math.max(1L, cap / h.frameBytes)
    if (last - start < perPart) last else start + perPart - 1
  }
}

object SpeFormat extends FrameFormat {
  override def schema: StructType = SpeSchema.schema

  override def index(meta: SpecFileMeta, conf: Configuration): FrameStack = {
    val h = SpeSchema.readHeader(meta.path, conf)
    SpeStack(h, 0L, h.nFrames.toLong)
  }

  /** Acquisition software writes the header first (`NumFrames` may
    * hold the final planned count from the start), then appends
    * frames, so the complete frames on disk are
    * `(len − 4100) div frameBytes`. A positive `NumFrames` caps that
    * count, so trailing bytes past the data (a footer) never become
    * phantom frames. The header is read once per file. */
  override def tail(meta: SpecFileMeta, conf: Configuration,
                    prev: Option[FrameStack]): FrameStack =
    if (meta.len < SpeSchema.HeaderBytes) FrameSeq.empty
    else {
      val h = prev match {
        case Some(s: SpeStack) => s.h
        case _ => SpeSchema.readHeader(meta.path, conf, strict = false)
      }
      val onDisk = (meta.len - SpeSchema.HeaderBytes) / h.frameBytes
      SpeStack(h, 0L, if (h.nFrames > 0) math.min(onDisk, h.nFrames.toLong) else onDisk)
    }
}
