package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util
import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for TIFF detector images — the third
  * detector-container source next to SPE and EDF, covering the most
  * common beamline interchange format (Pilatus exports 32-bit signed
  * TIFF, marCCD 16-bit unsigned; pyspec's `ccd` scope reads such
  * stacks frame by frame).
  *
  * Format scope is the baseline grayscale profile of the public TIFF
  * 6.0 specification, which is what detector software writes:
  * uncompressed (Compression=1), single-sample (SamplesPerPixel=1),
  * strip-organized images of 8/16/32-bit unsigned/signed integers or
  * 32/64-bit IEEE floats, both byte orders ("II" little / "MM" big),
  * multi-page (a chained-IFD stack = a frame series) or one frame per
  * file (a directory read composes the series).
  *
  * Planning walks the 8-byte header and the IFD chain — bounded
  * positional reads of tag tables, never pixel data — into one
  * [[TiffSchema.TiffFrame]] per page carrying its strip offsets and
  * byte counts. Pushdown, partitioning, the live tail and the reader
  * are the shared [[FrameSource]] ones.
  *
  * Schema (one row per frame/page):
  *   file string, frame long, width int, height int, n_frames long,
  *   datatype string (uint8/uint16/int16/uint32/int32/float32/float64),
  *   byte_order string ("II"|"MM"), pixels array<double> (row-major).
  */
class TiffDataSource extends FrameSource {
  override def shortName(): String = "tiff"
  override protected def format(options: util.Map[String, String]): FrameFormat = TiffFormat
}

object TiffSchema {
  val schema: StructType = StructType(Seq(
    StructField("file", StringType),
    StructField("frame", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", LongType),
    StructField("datatype", StringType),
    StructField("byte_order", StringType),
    StructField("pixels", ArrayType(DoubleType))))

  /** One page's decode plan: everything a reader needs to fetch and
    * interpret its strips without reopening the IFD chain. */
  final case class TiffFrame(width: Int, height: Int, bits: Int,
                             sampleFormat: Int, littleEndian: Boolean,
                             stripOffsets: Seq[Long], stripByteCounts: Seq[Long])
      extends FrameDesc {
    override def dataBytes: Long = stripByteCounts.sum
    override def dataRanges: Seq[(Long, Long)] = stripOffsets.zip(stripByteCounts)
    override def datatypeName: String = (sampleFormat, bits) match {
      case (3, 32) => "float32"
      case (3, 64) => "float64"
      case (2, b) => s"int$b"
      case (_, b) => s"uint$b"
    }
    override def sample: SampleKind = (sampleFormat, bits) match {
      case (3, 32) => SampleKind.F32
      case (3, 64) => SampleKind.F64
      case (2, 8) => SampleKind.I8
      case (2, 16) => SampleKind.I16
      case (2, 32) => SampleKind.I32
      case (_, 8) => SampleKind.U8
      case (_, 16) => SampleKind.U16
      case (_, 32) => SampleKind.U32
      case (f, b) => throw new IllegalArgumentException(
        s"unsupported TIFF sample (format $f, $b bits)")
    }
    override def column(name: String): Any = name match {
      case "byte_order" => UTF8String.fromString(if (littleEndian) "II" else "MM")
    }
  }

  // TIFF 6.0 tag ids (public specification)
  private val TagWidth = 256
  private val TagHeight = 257
  private val TagBits = 258
  private val TagCompression = 259
  private val TagStripOffsets = 273
  private val TagSamplesPerPixel = 277
  private val TagStripByteCounts = 279
  private val TagSampleFormat = 339

  private def typeSize(t: Int): Int = t match {
    case 1 | 2 | 6 | 7 => 1 // BYTE/ASCII/SBYTE/UNDEFINED
    case 3 | 8 => 2 // SHORT/SSHORT
    case 4 | 9 | 11 => 4 // LONG/SLONG/FLOAT
    case 5 | 10 | 12 => 8 // RATIONAL/SRATIONAL/DOUBLE
    case t => throw new IllegalArgumentException(s"unsupported TIFF field type $t")
  }

  /** Walk the header + IFD chain with bounded positional reads; pixel
    * data is never touched. Returns one descriptor per page, in chain
    * order (= frame order).
    */
  def walk(path: String, conf: Configuration): Seq[TiffFrame] = {
    val out = mutable.ArrayBuffer[TiffFrame]()
    walk(path, conf, out)
    out.toSeq
  }

  /** [[walk]] appending each page to `out` as it is found: a truncated
    * or malformed page throws after the pages before it were appended,
    * which is what a live tail keeps. */
  def walk(path: String, conf: Configuration, out: mutable.Growable[TiffFrame]): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    require(len >= 8, s"$path: not a TIFF (len $len < 8)")
    val in = fs.open(p)
    try {
      val head = new Array[Byte](8)
      in.readFully(0L, head)
      val little = (head(0), head(1)) match {
        case ('I', 'I') => true
        case ('M', 'M') => false
        case _ => throw new IllegalArgumentException(s"$path: not a TIFF (bad byte-order mark)")
      }
      val order = if (little) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
      val hb = ByteBuffer.wrap(head).order(order)
      require((hb.getShort(2) & 0xFFFF) == 42, s"$path: not a TIFF (magic != 42)")
      var ifdOff = hb.getInt(4).toLong & 0xFFFFFFFFL

      /** A tag's values as longs, inline or out-of-line. */
      def values(tpe: Int, count: Long, field: Array[Byte]): Seq[Long] = {
        val sz = typeSize(tpe)
        val total = sz * count
        require(count <= (len / math.max(1, sz)) && count <= 1048576,
          s"$path: implausible TIFF tag count $count")
        val raw =
          if (total <= 4) field
          else {
            val off = ByteBuffer.wrap(field).order(order).getInt(0).toLong & 0xFFFFFFFFL
            val b = new Array[Byte](total.toInt)
            in.readFully(off, b)
            b
          }
        val bb = ByteBuffer.wrap(raw).order(order)
        (0 until count.toInt).map { i =>
          sz match {
            case 1 => (raw(i) & 0xFF).toLong
            case 2 => (bb.getShort(i * 2) & 0xFFFF).toLong
            case 4 => bb.getInt(i * 4).toLong & 0xFFFFFFFFL
            case 8 => bb.getLong(i * 8)
          }
        }
      }

      val seen = mutable.Set[Long]()
      while (ifdOff != 0L) {
        require(seen.add(ifdOff), s"$path: cyclic IFD chain at $ifdOff")
        require(ifdOff + 2 <= len, s"$path: IFD offset $ifdOff beyond EOF")
        val cntB = new Array[Byte](2)
        in.readFully(ifdOff, cntB)
        val n = ByteBuffer.wrap(cntB).order(order).getShort(0) & 0xFFFF
        val body = new Array[Byte](n * 12 + 4)
        in.readFully(ifdOff + 2, body)
        val bodyBuf = ByteBuffer.wrap(body).order(order)
        val tags = mutable.Map[Int, (Int, Long, Array[Byte])]()
        (0 until n).foreach { i =>
          val tag = bodyBuf.getShort(i * 12) & 0xFFFF
          val tpe = bodyBuf.getShort(i * 12 + 2) & 0xFFFF
          val cnt = bodyBuf.getInt(i * 12 + 4).toLong & 0xFFFFFFFFL
          tags(tag) = (tpe, cnt, body.slice(i * 12 + 8, i * 12 + 12))
        }
        def tagVals(tag: Int): Option[Seq[Long]] =
          tags.get(tag).map { case (tpe, cnt, f) => values(tpe, cnt, f) }
        def one(tag: Int, default: => Long): Long =
          tagVals(tag).map(_.head).getOrElse(default)

        val w = one(TagWidth, throw err(path, "missing ImageWidth")).toInt
        val h = one(TagHeight, throw err(path, "missing ImageLength")).toInt
        val bits = one(TagBits, 1L).toInt
        val comp = one(TagCompression, 1L)
        val spp = one(TagSamplesPerPixel, 1L)
        val fmt = one(TagSampleFormat, 1L).toInt
        require(comp == 1, s"$path: compressed TIFF (Compression=$comp) unsupported")
        require(spp == 1, s"$path: SamplesPerPixel=$spp unsupported (grayscale only)")
        require(Set(8, 16, 32, 64).contains(bits), s"$path: BitsPerSample=$bits unsupported")
        require(fmt >= 1 && fmt <= 3, s"$path: SampleFormat=$fmt unsupported")
        require(fmt != 3 || bits >= 32, s"$path: float TIFF must be 32/64-bit")
        val offs = tagVals(TagStripOffsets).getOrElse(throw err(path, "missing StripOffsets"))
        val cnts = tagVals(TagStripByteCounts)
          .getOrElse(throw err(path, "missing StripByteCounts"))
        require(offs.size == cnts.size, s"$path: StripOffsets/StripByteCounts mismatch")
        val expect = w.toLong * h * (bits / 8)
        require(cnts.sum == expect,
          s"$path: strip bytes ${cnts.sum} != ${w}x$h x${bits / 8}")
        require(expect <= Int.MaxValue,
          s"$path: TIFF page is $expect bytes (> 2 GiB unsupported)")
        offs.zip(cnts).foreach { case (o, c) =>
          require(o + c <= len, s"$path: strip [$o, ${o + c}) beyond EOF $len")
        }
        out += TiffFrame(w, h, bits, fmt, little, offs, cnts)
        ifdOff = bodyBuf.getInt(n * 12).toLong & 0xFFFFFFFFL
      }
    } finally in.close()
  }

  private def err(path: String, msg: String) =
    new IllegalArgumentException(s"$path: $msg")
}

/** A TIFF appender writes a page's strips and IFD, then PATCHES the
  * previous last IFD's next-pointer, so — unlike the EDF block tail —
  * there is no append-only resume position: the live tail re-walks the
  * IFD chain (headers only) whenever the file length changes. */
object TiffFormat extends FrameFormat {
  override def schema: StructType = TiffSchema.schema

  override def index(meta: SpecFileMeta, conf: Configuration): FrameStack =
    FrameSeq(TiffSchema.walk(meta.path, conf).toVector)

  override def tail(meta: SpecFileMeta, conf: Configuration,
                    prev: Option[FrameStack]): FrameStack =
    FrameSeq.live(Vector.empty)(TiffSchema.walk(meta.path, conf, _))
}

class TiffScanBuilder(paths: Seq[String], maxPartBytes: Long)
    extends FrameScanBuilder(TiffFormat, paths, maxPartBytes)
