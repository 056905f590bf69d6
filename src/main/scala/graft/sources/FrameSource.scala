package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The DataSource V2 core shared by the detector-image sources (`spe`,
  * `edf`, `tiff`): everything that does not depend on how a file lays
  * out its frames. A format supplies a [[FrameFormat]] — its schema, a
  * batch index of one file and a live-tail index — and this file
  * implements the rest once:
  *
  *   - `path`/`paths` and `maxPartitionBytes` (default 128 MiB)
  *     option parsing;
  *   - `frame` filter pushdown: equality/range/IN prune whole
  *     partitions before any data byte is read;
  *   - ungrouped COUNT(*) / MIN / MAX(frame) pushdown to a one-row
  *     index scan ([[IndexAggScan]]) — a frame census reads headers only;
  *   - the header pass: inline on the driver for a few files, one Spark
  *     task per file above [[FrameSource.ParallelHeaderThreshold]], so
  *     a 10k-stack corpus never serializes its header reads through the
  *     driver;
  *   - partitions: contiguous frame runs capped at `maxPartitionBytes`
  *     (one frame at least), in batch and in stream alike;
  *   - the live micro-batch tail ([[FrameMicroBatchStream]]);
  *   - one partition reader and pixel decoder. A projection without
  *     `pixels` never opens a data file: rows come from the planned
  *     descriptors alone.
  *
  * Planning reads headers only; all IO goes through Hadoop
  * `FileSystem`, so `file:`/`hdfs:`/`s3a:` URIs all work.
  */
abstract class FrameSource extends TableProvider with DataSourceRegister {
  protected def format(options: util.Map[String, String]): FrameFormat

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = format(options).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val paths = Option(properties.get("paths"))
      .map(p => SpecSchema.parseJsonPaths(p))
      .orElse(Option(properties.get("path")).map(Seq(_)))
      .getOrElse(throw new IllegalArgumentException(s"${shortName()} reader needs a path"))
    new FrameTable(shortName(), format(properties), paths,
      Option(properties.get("maxPartitionBytes")).map(_.toLong)
        .getOrElse(FrameSource.DefaultMaxPartitionBytes))
  }
}

object FrameSource {
  val DefaultMaxPartitionBytes: Long = 128L * 1024 * 1024
  /** Files-per-read above which header reads run as a Spark job (one
    * task per file) instead of inline on the driver. */
  val ParallelHeaderThreshold = 16

  /** Partitions over `runs` (inclusive frame ranges) of one file: each
    * run is cut into consecutive pieces of as many frames as fit in
    * `cap` bytes, one frame at least. */
  def partitions(path: String, stack: FrameStack, runs: Seq[(Long, Long)],
                 nFrames: Long, cap: Long): Seq[FramePartition] = runs.flatMap { case (first, last) =>
    val parts = mutable.ArrayBuffer[FramePartition]()
    var s = first
    while (s <= last) {
      val e = stack.runEnd(s, last, cap)
      parts += FramePartition(path, s, nFrames, stack.slice(s, e + 1))
      s = e + 1
    }
    parts
  }
}

/** What a detector format supplies to the shared source. Serialized
  * into the header-pass job when a read spans many files. */
trait FrameFormat extends Serializable {
  def schema: StructType
  /** Every frame of a complete file, from headers only; a truncated or
    * malformed file fails with its path in the message. */
  def index(meta: SpecFileMeta, conf: Configuration): FrameStack
  /** The complete frames of a LIVE file, given this file's stack at the
    * previous trigger (None the first time the tail sees it). */
  def tail(meta: SpecFileMeta, conf: Configuration, prev: Option[FrameStack]): FrameStack
}

/** Pixel sample types; every one decodes exactly to double. */
sealed abstract class SampleKind(val bytes: Int) extends Serializable
object SampleKind {
  case object U8 extends SampleKind(1)
  case object I8 extends SampleKind(1)
  case object U16 extends SampleKind(2)
  case object I16 extends SampleKind(2)
  case object U32 extends SampleKind(4)
  case object I32 extends SampleKind(4)
  case object F32 extends SampleKind(4)
  case object F64 extends SampleKind(8)
}

/** One frame as the shared reader needs it: where its bytes are and
  * how to decode them. */
trait FrameDesc extends Serializable {
  def width: Int
  def height: Int
  def sample: SampleKind
  def littleEndian: Boolean
  /** (offset, length) of each data section, concatenated in pixel order. */
  def dataRanges: Seq[(Long, Long)]
  def dataBytes: Long
  /** The `datatype` column, in the format's own naming. */
  def datatypeName: String
  /** A format-specific metadata column (`exp_sec`, `byte_order`). */
  def column(name: String): Any
}

/** A file's frames in order. */
trait FrameStack extends Serializable {
  def size: Long
  def apply(i: Long): FrameDesc
  /** Frames [from, until) as a stack of their own — what a partition ships. */
  def slice(from: Long, until: Long): FrameStack
  /** `n_frames` of rows read up to frame `end` (exclusive): the frames
    * known there — a live tail cannot know a finished file's total,
    * and the batch-end value keeps replays deterministic. */
  def nFramesAt(end: Long): Long = end
  /** Last frame of the partition that starts at `first`: as many frames
    * as fit in `cap` bytes, one at least, no later than `last`. */
  def runEnd(first: Long, last: Long, cap: Long): Long = {
    var e = first
    var bytes = apply(first).dataBytes
    while (e < last && bytes + apply(e + 1).dataBytes <= cap) {
      e += 1
      bytes += apply(e).dataBytes
    }
    e
  }
}

/** A stack with one descriptor per frame (EDF blocks, TIFF pages). */
final case class FrameSeq(frames: IndexedSeq[FrameDesc]) extends FrameStack {
  override def size: Long = frames.size
  override def apply(i: Long): FrameDesc = frames(i.toInt)
  override def slice(from: Long, until: Long): FrameStack =
    FrameSeq(frames.slice(from.toInt, until.toInt))
}

object FrameSeq {
  val empty: FrameSeq = FrameSeq(Vector.empty)

  /** The frames a walk of a LIVE file appends to `start` before it
    * stops. A frame or page that fails to parse is one still being
    * written: the walk ends at the last complete frame, and the next
    * trigger that sees a new file length retries from there. */
  def live(start: IndexedSeq[FrameDesc])(walk: mutable.ArrayBuffer[FrameDesc] => Unit): FrameSeq = {
    val fresh = mutable.ArrayBuffer[FrameDesc]()
    try walk(fresh) catch { case NonFatal(_) => () }
    FrameSeq(start.toVector ++ fresh)
  }
}

/** Frames selected by the pushed `frame` filters: lo ≤ frame ≤ hi, and
  * in `eq` when set. */
final case class FrameFilter(lo: Long = Long.MinValue, hi: Long = Long.MaxValue,
                             eq: Option[Set[Long]] = None) {
  def and(f: Filter): FrameFilter = {
    import FrameFilter.asLong
    def in(s: Set[Long]) = copy(eq = Some(eq.map(_.intersect(s)).getOrElse(s)))
    f match {
      case EqualTo(_, v) => in(Set(asLong(v).get))
      case In(_, vs) => in(vs.map(asLong(_).get).toSet)
      case GreaterThan(_, v) => copy(lo = math.max(lo, asLong(v).get + 1))
      case GreaterThanOrEqual(_, v) => copy(lo = math.max(lo, asLong(v).get))
      case LessThan(_, v) => copy(hi = math.min(hi, asLong(v).get - 1))
      case LessThanOrEqual(_, v) => copy(hi = math.min(hi, asLong(v).get))
      case _ => this
    }
  }

  /** The selected frames of a file with `n` frames, as maximal runs of
    * consecutive frames (first, last). */
  def runs(n: Long): Seq[(Long, Long)] = {
    val a = math.max(lo, 0L)
    val b = math.min(hi, n - 1)
    eq match {
      case None => if (a <= b) Seq((a, b)) else Seq.empty
      case Some(s) =>
        val out = mutable.ArrayBuffer[(Long, Long)]()
        s.filter(f => f >= a && f <= b).toArray.sorted.foreach { f =>
          if (out.nonEmpty && out.last._2 + 1 == f) out(out.length - 1) = (out.last._1, f)
          else out += ((f, f))
        }
        out.toSeq
    }
  }
}

object FrameFilter {
  private def asLong(v: Any): Option[Long] = v match {
    case l: Long => Some(l); case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong); case b: Byte => Some(b.toLong)
    case _ => None
  }

  /** Only integral literals translate to frame bounds. Anything else (a
    * null inside In(...), a non-numeric value) stays in the residual
    * and Spark evaluates it post-scan, instead of planning crashing on
    * a cast. `frame` is non-null by construction: accepting the inferred
    * IsNotNull keeps it out of the residual (a residual blocks aggregate
    * pushdown and costs a per-row filter for nothing). */
  def accepts(f: Filter): Boolean = f match {
    case EqualTo("frame", v) => asLong(v).isDefined
    case In("frame", vs) => vs != null && vs.forall(asLong(_).isDefined)
    case GreaterThan("frame", v) => asLong(v).isDefined
    case GreaterThanOrEqual("frame", v) => asLong(v).isDefined
    case LessThan("frame", v) => asLong(v).isDefined
    case LessThanOrEqual("frame", v) => asLong(v).isDefined
    case IsNotNull("frame") => true
    case _ => false
  }
}

class FrameTable(shortName: String, format: FrameFormat, paths: Seq[String],
                 maxPartBytes: Long) extends Table with SupportsRead {
  override def name(): String = s"$shortName(${paths.mkString(",")})"
  override def schema(): StructType = format.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FrameScanBuilder(format, paths, maxPartBytes)
}

class FrameScanBuilder(format: FrameFormat, paths: Seq[String], maxPartBytes: Long)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = format.schema
  private var wanted = FrameFilter()
  private var aggTags: Option[Seq[String]] = None

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rest) = filters.partition(FrameFilter.accepts)
    wanted = accepted.foldLeft(wanted)(_ and _)
    pushed = accepted
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggTags = IndexAggScan.tags(agg, "frame")
    aggTags.isDefined
  }

  /** Each file's stack and its selected frame runs. */
  private def planned(): Seq[(String, FrameStack, Seq[(Long, Long)])] = {
    val session = SparkSession.active
    val conf = session.sessionState.newHadoopConf()
    val files = SpecSchema.expand(paths, conf)
    val stacks =
      if (files.size <= FrameSource.ParallelHeaderThreshold) files.map(format.index(_, conf))
      else {
        val sconf = new SerializableHadoopConf(conf)
        val fmt = format // the task closure must not capture this builder
        session.sparkContext.parallelize(files, files.size)
          .map(fmt.index(_, sconf.value)).collect().toSeq
      }
    files.zip(stacks).map { case (meta, stack) => (meta.path, stack, wanted.runs(stack.size)) }
  }

  override def build(): Scan = aggTags match {
    case Some(tags) => new IndexAggScan(tags, () =>
      planned().flatMap(_._3.map { case (first, last) => (first, last, last - first + 1) }))
    case None => rowScan()
  }

  private def hadoopConf() =
    new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf())

  private def rowScan(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      planned().flatMap { case (path, stack, runs) =>
        FrameSource.partitions(path, stack, runs, stack.nFramesAt(stack.size), maxPartBytes)
      }.toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new FrameReaderFactory(hadoopConf(), required.fieldNames)
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new FrameMicroBatchStream(format, paths, hadoopConf(), required.fieldNames, maxPartBytes)
  }
}

/** Structured-Streaming source over LIVE detector stacks — watch an
  * acquisition as frames append. The per-file offset is the number of
  * COMPLETE frames on disk (the format's [[FrameFormat.tail]]); a frame
  * still being written waits for a later trigger. Each file's stack is
  * cached with the file length it was taken at: a trigger where the
  * length is unchanged skips the format entirely — no file open, no
  * reads — so an idle stream costs one listStatus per trigger. New
  * files under the path are picked up automatically; partitions and
  * readers are the batch ones. Append-only assumption: a file that
  * SHRINKS mid-stream invalidates its offsets — restart the query for
  * a rewritten corpus. Driver memory is O(frame descriptors tracked)
  * over the stream's lifetime; point long-running streams at the live
  * directory, not an ever-growing archive.
  */
class FrameMicroBatchStream(format: FrameFormat, paths: Seq[String],
                            conf: SerializableHadoopConf, columns: Array[String],
                            maxPartBytes: Long) extends MicroBatchStream {
  private val cache = mutable.Map[String, (Long, FrameStack)]()

  private def refresh(meta: SpecFileMeta): FrameStack = cache.get(meta.path) match {
    case Some((len, stack)) if len == meta.len => stack
    case prev =>
      val stack = format.tail(meta, conf.value, prev.map(_._2))
      cache(meta.path) = (meta.len, stack)
      stack
  }

  override def initialOffset(): Offset = SpecStreamOffset(Map.empty)
  override def deserializeOffset(json: String): Offset = SpecStreamOffset.fromJson(json)

  override def latestOffset(): Offset =
    SpecStreamOffset(SpecSchema.expand(paths, conf.value).map(m => m.path -> refresh(m).size).toMap)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SpecStreamOffset].files
    val e = end.asInstanceOf[SpecStreamOffset].files
    e.toSeq.sortBy(_._1).flatMap { case (path, to) =>
      val from = s.getOrElse(path, 0L)
      if (to <= from) Seq.empty
      else {
        // normally latestOffset just refreshed; after a checkpoint
        // restart the cache is cold and the tail reruns here
        val stack = cache.get(path).map(_._2).filter(_.size >= to).getOrElse {
          val p = new Path(path)
          val st = p.getFileSystem(conf.value).getFileStatus(p)
          refresh(SpecFileMeta(path, st.getLen, st.getModificationTime))
        }
        FrameSource.partitions(path, stack, Seq((from, math.min(to, stack.size) - 1)),
          stack.nFramesAt(to), maxPartBytes)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FrameReaderFactory(conf, columns)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Frames [frameStart, frameStart + frames.size) of one file. */
final case class FramePartition(path: String, frameStart: Long, nFrames: Long,
                                frames: FrameStack) extends InputPartition

class FrameReaderFactory(conf: SerializableHadoopConf,
                         columns: Array[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FramePartitionReader(partition.asInstanceOf[FramePartition], conf.value, columns)
}

/** Reads one partition's frames: a seek to each data section (none
  * between sections that follow each other on disk), then one bounded
  * read. With `pixels` pruned the file is never opened.
  */
class FramePartitionReader(part: FramePartition, conf: Configuration,
                           columns: Array[String]) extends PartitionReader[InternalRow] {
  private val needPixels = columns.contains("pixels")
  private val fileUtf8 = UTF8String.fromString(part.path)
  private var i = -1L
  private var fr: FrameDesc = _
  private val in: FSDataInputStream =
    if (needPixels) {
      val p = new Path(part.path)
      p.getFileSystem(conf).open(p)
    } else null
  private var buf = Array.emptyByteArray
  private var pixels: GenericArrayData = _

  override def next(): Boolean = {
    i += 1
    val more = i < part.frames.size
    if (more) {
      fr = part.frames(i)
      // decode in next(), not get(): the stream advances exactly once
      // per row regardless of how often Spark materializes it
      if (needPixels) pixels = new GenericArrayData(FramePartitionReader.decode(
        read(), fr.sample, fr.littleEndian, fr.width * fr.height))
    }
    more
  }

  private def read(): Array[Byte] = {
    if (buf.length != fr.dataBytes) buf = new Array[Byte](fr.dataBytes.toInt)
    var at = 0
    fr.dataRanges.foreach { case (off, len) =>
      if (in.getPos != off) in.seek(off)
      in.readFully(buf, at, len.toInt)
      at += len.toInt
    }
    buf
  }

  override def get(): InternalRow = {
    val vals: Array[Any] = columns.map {
      case "file" => fileUtf8
      case "frame" => part.frameStart + i
      case "width" => fr.width
      case "height" => fr.height
      case "n_frames" => part.nFrames
      case "datatype" => UTF8String.fromString(fr.datatypeName)
      case "pixels" => pixels
      case other => fr.column(other)
    }
    InternalRow.fromSeq(vals.toSeq)
  }

  override def close(): Unit = if (in != null) in.close()
}

object FramePartitionReader {
  /** The first `n` samples of `buf` as doubles — one tight loop per kind. */
  def decode(buf: Array[Byte], kind: SampleKind, littleEndian: Boolean, n: Int): Array[Double] = {
    import SampleKind._
    val bb = ByteBuffer.wrap(buf)
      .order(if (littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    val out = new Array[Double](n)
    var j = 0
    kind match {
      case U8 => while (j < n) { out(j) = (buf(j) & 0xFF).toDouble; j += 1 }
      case I8 => while (j < n) { out(j) = buf(j).toDouble; j += 1 }
      case U16 => val tb = bb.asShortBuffer; while (j < n) { out(j) = (tb.get(j) & 0xFFFF).toDouble; j += 1 }
      case I16 => val tb = bb.asShortBuffer; while (j < n) { out(j) = tb.get(j).toDouble; j += 1 }
      case U32 => val tb = bb.asIntBuffer; while (j < n) { out(j) = (tb.get(j).toLong & 0xFFFFFFFFL).toDouble; j += 1 }
      case I32 => val tb = bb.asIntBuffer; while (j < n) { out(j) = tb.get(j).toDouble; j += 1 }
      case F32 => val tb = bb.asFloatBuffer; while (j < n) { out(j) = tb.get(j).toDouble; j += 1 }
      case F64 => val tb = bb.asDoubleBuffer; while (j < n) { out(j) = tb.get(j); j += 1 }
    }
    out
  }
}

/** One-row aggregate scan answered from a source's planning index alone:
  * no data byte is read. `planned` yields one (min key, max key, rows)
  * unit per indexed block — a frame run, a SPEC scan. Values are
  * partial aggregates pre-reduced at planning; Spark's final merge
  * (sum/min/max over one row) keeps union/multi-scan plans correct.
  */
class IndexAggScan(tags: Seq[String], planned: () => Seq[(Long, Long, Long)])
    extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(tags.map(t => StructField(s"agg_$t", LongType, nullable = t != "count")))
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val units = planned()
    val values: Array[Any] = tags.map { t =>
      if (t == "count") units.map(_._3).sum
      else if (units.isEmpty) null
      else if (t.startsWith("min_")) units.map(_._1).min
      else units.map(_._2).max
    }.toArray
    Array(IndexAggPartition(values))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          private val row = InternalRow.fromSeq(p.asInstanceOf[IndexAggPartition].values.toSeq)
          override def next(): Boolean = { val r = !emitted; emitted = true; r }
          override def get(): InternalRow = row
          override def close(): Unit = ()
        }
    }
}

final case class IndexAggPartition(values: Array[Any]) extends InputPartition

object IndexAggScan {
  /** Tags of an ungrouped COUNT(*) / MIN(key) / MAX(key) aggregation —
    * "count", "min_<key>", "max_<key>" — or None when anything else is
    * asked for (grouping, another function or column). */
  def tags(agg: Aggregation, key: String): Option[Seq[String]] = {
    if (agg.groupByExpressions.nonEmpty) return None
    val tags = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some("count")
      case m: Min if m.column.describe() == key => Some(s"min_$key")
      case m: Max if m.column.describe() == key => Some(s"max_$key")
      case _ => None
    }
    if (tags.exists(_.isEmpty)) None else Some(tags.flatten)
  }
}
