package graft.sources

import java.util
import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for ESRF Data Format (`.edf`) detector
  * images — the second classic synchrotron CCD container after
  * Princeton SPE (pyspec's `ccd` scope; the EDF layout is the public
  * one every open-source reader implements, e.g. fabio's edfimage):
  *
  *   - a file is a SEQUENCE of blocks, one per image;
  *   - each block starts with an ASCII header: `{`, then
  *     `Key = Value ;` lines, then `}` + newline, space-padded so the
  *     TOTAL header length is a multiple of 512 bytes;
  *   - standard keys: `Dim_1` (width), `Dim_2` (height), `DataType`
  *     (UnsignedByte/SignedByte/(Un)SignedShort/(Un)SignedInteger/
  *     SignedLong/FloatValue/DoubleValue), `ByteOrder`
  *     (LowByteFirst/HighByteFirst), `Size` (data bytes);
  *   - the binary image (`Size` bytes) follows immediately.
  *
  * Planning walks the block headers (bounded 512-byte reads and a seek
  * over each data section) into one [[EdfSchema.EdfFrame]] per block,
  * cached in a validated `<file>.edfidx` sidecar (`indexCache`,
  * default on). Pushdown, partitioning, the live tail and the reader
  * are the shared [[FrameSource]] ones.
  *
  * Schema (one row per image block, `frame` = 0-based ordinal):
  *   file string, frame long, width int, height int, n_frames long,
  *   datatype string, byte_order string, pixels array<double>
  */
class EdfDataSource extends FrameSource {
  override def shortName(): String = "edf"
  override protected def format(options: util.Map[String, String]): FrameFormat =
    EdfFormat(Option(options.get("indexCache")).forall(_.toBoolean))
}

object EdfSchema {
  val HeaderChunk = 512
  /** Headers larger than this are rejected as malformed (the spec
    * pads to 512-multiples; real headers are one or two chunks). */
  val MaxHeaderBytes = 64 * 1024
  val SidecarSuffix = ".edfidx"

  val schema: StructType = StructType(Seq(
    StructField("file", StringType),
    StructField("frame", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", LongType),
    StructField("datatype", StringType),
    StructField("byte_order", StringType),
    StructField("pixels", ArrayType(DoubleType))))

  final case class EdfFrame(dataOffset: Long, width: Int, height: Int,
                            dataType: String, littleEndian: Boolean, size: Long)
      extends FrameDesc {
    override def sample: SampleKind = EdfSchema.sample(dataType)
    override def dataRanges: Seq[(Long, Long)] = Seq((dataOffset, size))
    override def dataBytes: Long = size
    override def datatypeName: String = dataType
    override def column(name: String): Any = name match {
      case "byte_order" =>
        UTF8String.fromString(if (littleEndian) "LowByteFirst" else "HighByteFirst")
    }
  }

  def sample(dataType: String): SampleKind = dataType match {
    case "UnsignedByte" => SampleKind.U8
    case "SignedByte" => SampleKind.I8
    case "UnsignedShort" => SampleKind.U16
    case "SignedShort" => SampleKind.I16
    case "UnsignedInteger" | "UnsignedLong" => SampleKind.U32
    case "SignedInteger" | "SignedLong" => SampleKind.I32
    case "FloatValue" | "Float" => SampleKind.F32
    case "DoubleValue" => SampleKind.F64
    case d => throw new IllegalArgumentException(s"unsupported EDF DataType '$d'")
  }

  def bytesPerPixel(dataType: String): Int = sample(dataType).bytes

  private val KeyVal = """\s*([A-Za-z0-9_]+)\s*=\s*(.*?)\s*;?\s*""".r

  /** Walk every block header of one file; data sections are seeked
    * over, never read. Returns the per-frame descriptors in file
    * order. Strict: truncation throws with the path in the message.
    */
  def indexFile(path: String, conf: Configuration): Seq[EdfFrame] = {
    val out = mutable.ArrayBuffer[EdfFrame]()
    walk(path, conf, 0L, out)
    out.toSeq
  }

  /** Header walk with a `<file>.edfidx` sidecar cache — the same
    * validated-cache discipline as the spec source's `.specidx`
    * (length + mtime + first/last-4KiB CRC; any mismatch reindexes
    * and atomically rewrites the sidecar, which IS the eviction).
    * Big multi-block stacks re-read in repeated queries skip the
    * whole header walk.
    */
  def indexWithCache(meta: SpecFileMeta, conf: Configuration,
                     cache: Boolean): Seq[EdfFrame] = {
    if (!cache) return indexFile(meta.path, conf)
    readSidecar(meta, conf).getOrElse {
      val idx = indexFile(meta.path, conf)
      scala.util.Try(writeSidecar(meta, idx, conf)) // read-only dirs are fine
      idx
    }
  }

  private def sidecarPath(meta: SpecFileMeta) = new Path(meta.path + SidecarSuffix)

  /** Wire format (tab-separated):
    *   edfidx\tv1\t<len>\t<mtime>\t<crc of first+last 4KiB>
    *   F\t<dataOffset>\t<width>\t<height>\t<dataType>\t<littleEndian>\t<size>
    */
  def readSidecar(meta: SpecFileMeta, conf: Configuration): Option[Seq[EdfFrame]] =
    scala.util.Try {
      val p = sidecarPath(meta)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      val lines = text.linesIterator.toArray
      val head = lines.head.split('\t')
      if (head.length != 5 || head(0) != "edfidx" || head(1) != "v1" ||
          head(2).toLong != meta.len || head(3).toLong != meta.mtime ||
          head(4).toLong != SpecIndex.fingerprint(meta, conf)) return None
      Some(lines.collect { case l if l.startsWith("F\t") =>
        val t = l.split('\t')
        EdfFrame(t(1).toLong, t(2).toInt, t(3).toInt, t(4), t(5).toBoolean, t(6).toLong)
      }.toSeq)
    }.toOption.flatten

  def writeSidecar(meta: SpecFileMeta, idx: Seq[EdfFrame], conf: Configuration): Unit = {
    val p = sidecarPath(meta)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try {
      val sb = new StringBuilder
      sb.append(s"edfidx\tv1\t${meta.len}\t${meta.mtime}\t${SpecIndex.fingerprint(meta, conf)}\n")
      idx.foreach { f =>
        sb.append(s"F\t${f.dataOffset}\t${f.width}\t${f.height}\t${f.dataType}\t${f.littleEndian}\t${f.size}\n")
      }
      out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
  }

  /** Walk the block headers from byte `startPos` (a block boundary),
    * appending one descriptor per complete block to `out`; data
    * sections are seeked over, never read. A truncated or malformed
    * block throws with the path in the message — after the blocks
    * before it were appended, which is what a live tail keeps.
    */
  def walk(path: String, conf: Configuration, startPos: Long,
           out: mutable.Growable[EdfFrame]): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      var pos = startPos
      while (pos + HeaderChunk <= len) {
        // accumulate 512-byte chunks until one ends with '}' (+ \n)
        val sb = new java.lang.StringBuilder
        var headerEnd = -1L
        var cur = pos
        while (headerEnd < 0) {
          require(cur - pos < MaxHeaderBytes, s"$path: unterminated EDF header at $pos")
          require(cur + HeaderChunk <= len, s"$path: truncated EDF header at $pos")
          val chunk = new Array[Byte](HeaderChunk)
          in.readFully(cur, chunk)
          sb.append(new String(chunk, "ISO-8859-1"))
          cur += HeaderChunk
          val t = sb.toString
          val trimmed = t.reverse.dropWhile(c => c == ' ' || c == '\n' || c == '\r').reverse
          if (trimmed.endsWith("}")) headerEnd = cur
        }
        val text = sb.toString
        require(text.dropWhile(c => c == ' ' || c == '\n').startsWith("{"),
          s"$path: EDF block at $pos does not start with '{'")
        val kv = text.substring(text.indexOf('{') + 1, text.lastIndexOf('}'))
          .split('\n').toSeq
          .collect { case KeyVal(k, v) if v.nonEmpty => k -> v }
          .toMap
        def need(k: String): String = kv.getOrElse(k,
          throw new IllegalArgumentException(s"$path: EDF header at $pos missing $k"))
        val w = need("Dim_1").toInt
        val h = need("Dim_2").toInt
        val dt = need("DataType")
        val size = kv.get("Size").map(_.toLong)
          .getOrElse(w.toLong * h * bytesPerPixel(dt))
        val little = kv.getOrElse("ByteOrder", "LowByteFirst") != "HighByteFirst"
        require(w > 0 && h > 0 && size == w.toLong * h * bytesPerPixel(dt),
          s"$path: inconsistent EDF block at $pos (${w}x$h $dt, Size $size)")
        // the reader allocates one Array[Byte] per data section —
        // fail at index time, not with a corrupt read at scan time
        require(size <= Int.MaxValue,
          s"$path: EDF data section at $pos is $size bytes (> 2 GiB unsupported)")
        require(headerEnd + size <= len, s"$path: truncated EDF data at $headerEnd")
        out += EdfFrame(headerEnd, w, h, dt, little, size)
        pos = headerEnd + size
      }
    } finally in.close()
  }
}

/** EDF blocks only ever append, so the live tail resumes where the
  * last complete block's data ends: a trigger reads only the headers
  * appended since the previous one, never old headers, never data. */
final case class EdfFormat(indexCache: Boolean) extends FrameFormat {
  override def schema: StructType = EdfSchema.schema

  override def index(meta: SpecFileMeta, conf: Configuration): FrameStack =
    FrameSeq(EdfSchema.indexWithCache(meta, conf, indexCache).toVector)

  override def tail(meta: SpecFileMeta, conf: Configuration,
                    prev: Option[FrameStack]): FrameStack = {
    val have = prev.collect { case s: FrameSeq => s.frames }.getOrElse(Vector.empty)
    val resume = have.lastOption.collect { case f: EdfSchema.EdfFrame => f.dataOffset + f.size }
    FrameSeq.live(have)(EdfSchema.walk(meta.path, conf, resume.getOrElse(0L), _))
  }
}

class EdfScanBuilder(paths: Seq[String], maxPartBytes: Long, indexCache: Boolean = true)
    extends FrameScanBuilder(EdfFormat(indexCache), paths, maxPartBytes)
