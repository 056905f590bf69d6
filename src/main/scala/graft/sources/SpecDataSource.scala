package graft.sources

import java.io.InputStream
import java.nio.charset.StandardCharsets
import java.util
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for the ASCII "spec" format produced by
  * Certified Scientific's *spec* instrument-control software — the
  * capability that defines the reference library (pyspec
  * `spec.py` `SpecDataFile`/`SpecScan`: `#S` scan headers, `#D`
  * dates, `#O`/`#P` motor names+positions, `#L` column labels,
  * numeric data blocks, random access to scans by number).
  *
  * Cluster model: all IO goes through Hadoop `FileSystem`, so paths
  * may be `file:`, `hdfs:`, `s3a:`, etc. Each file is indexed ONCE by
  * **byte offset** — `(scan, startByte, endByte)` per `#S` block —
  * and each Spark partition covers one (file, scan): its reader
  * `seek`s straight to its block and reads only those bytes, so total
  * read work is O(corpus bytes), never O(scans × file bytes). For
  * more than a handful of files the index pass itself runs as a Spark
  * job (one task per file, [[FrameSource.headerPass]]), so the driver
  * never streams file contents; it only collects the per-scan offset
  * table. `indexCache` (on by default) persists each file's index to a
  * `<file>.specidx` sidecar (validated against length, mtime and a
  * content fingerprint) so re-reads of an unchanged corpus skip the
  * scan pass entirely.
  *
  * pyspec's "random access by scan number" maps onto partition
  * PRUNING: equality/IN/range filters on the `scan` column skip whole
  * partitions before any byte of their data block is read. A partition
  * holds one scan, so the pruning is exact and those filters leave no
  * residual — a filtered COUNT(*)/MIN/MAX(scan) still answers from the
  * index alone. `file` equality/IN skips whole files before they are
  * indexed.
  *
  * Motor names come from the `#O` lines of the header in force at each
  * `#S`: spec rewrites its header (`#F` … `#O0`) mid-file when the
  * motor configuration changes, and later scans follow the new names.
  *
  * Schema (one row per data point):
  *   file string, scan long, command string, date string,
  *   count_time double, monitor double, geometry array<double>,
  *   hkl array<double>, point long,
  *   motors map<string,double>, data map<string,double>,
  *   mca array<double>
  * (`count_time`/`monitor` come from `#T`/`#M` — pyspec's
  * `scan.count_time`/monitor-normalization inputs; `geometry` is the
  * concatenated `#G` block — pyspec's `scan.G` diffractometer/UB
  * values; `hkl` is the `#Q` reciprocal-space position; `mca` is the
  * point's multichannel-analyzer spectrum from `@A ... \` continuation
  * blocks — pyspec's `scan.MCA`. All null when the scan omits them.)
  */
class SpecDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "spec"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = SpecSchema.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    new SpecTable(FrameSource.paths(properties))
  }
  override def supportsExternalMetadata(): Boolean = false
}

/** Hadoop `Configuration` is not `java.io.Serializable`; this wrapper
  * ships it to index tasks / partition readers via its own
  * `write`/`readFields` wire format (the standard Spark pattern).
  */
final class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** Test/observability hook: total bytes fetched by partition readers
  * in this JVM. Lets specs assert the reader seeks (a K-scan file is
  * read once in total, not K times).
  */
object SpecIOMetrics {
  val bytesRead = new java.util.concurrent.atomic.LongAdder
  /** Chunks the parser found ALREADY buffered by the prefetch thread —
    * each one is a chunk of file IO that fully overlapped parse CPU. */
  val prefetchHits = new java.util.concurrent.atomic.LongAdder
  /** Chunks the parser had to wait for (IO bound the whole way). */
  val prefetchWaits = new java.util.concurrent.atomic.LongAdder
  def reset(): Unit = { bytesRead.reset(); prefetchHits.reset(); prefetchWaits.reset() }
  def total: Long = bytesRead.sum()
}

/** Read-ahead wrapper: a daemon thread drains `in` into a bounded
  * chunk queue while the consumer parses the previous chunks — on a
  * high-latency filesystem (HDFS/S3) the next scan bytes stream in
  * while the current ones are being tokenized, instead of the reader
  * alternating stalls. The consumer is the ONLY reader of the queue
  * and the thread the only reader of `in`, so the underlying stream
  * position is never shared. Errors propagate on the next read;
  * close() stops the thread and closes `in` exactly once.
  */
private[sources] class PrefetchInputStream(in: InputStream, chunkSize: Int = 256 * 1024,
                                           depth: Int = 4) extends InputStream {
  private val queue = new java.util.concurrent.ArrayBlockingQueue[AnyRef](depth)
  @volatile private var error: Throwable = null
  @volatile private var closed = false
  private val Eof = new AnyRef
  private var cur: Array[Byte] = Array.emptyByteArray
  private var pos = 0
  private var done = false

  private val pump = new Thread(() => {
    try {
      var eof = false
      while (!eof && !closed) {
        val buf = new Array[Byte](chunkSize)
        var n = 0
        // fill the chunk fully so queue slots carry maximal bytes
        var r = 0
        while (n < chunkSize && r >= 0) {
          r = in.read(buf, n, chunkSize - n)
          if (r > 0) n += r
        }
        eof = r < 0
        val item: AnyRef = if (n == chunkSize) buf else java.util.Arrays.copyOf(buf, n)
        if (n > 0) while (!closed && !queue.offer(item, 50, java.util.concurrent.TimeUnit.MILLISECONDS)) ()
      }
    } catch { case t: Throwable => error = t }
    finally {
      scala.util.Try(in.close())
      while (!closed && !queue.offer(Eof, 50, java.util.concurrent.TimeUnit.MILLISECONDS)) ()
    }
  }, "spec-prefetch")
  pump.setDaemon(true)
  pump.start()

  private def advance(): Boolean = {
    if (done) return false
    if (error != null) throw new java.io.IOException("spec prefetch failed", error)
    val fast = queue.poll()
    val item = if (fast != null) { SpecIOMetrics.prefetchHits.increment(); fast }
      else { SpecIOMetrics.prefetchWaits.increment(); queue.take() }
    if (error != null) throw new java.io.IOException("spec prefetch failed", error)
    if (item eq Eof) { done = true; false }
    else { cur = item.asInstanceOf[Array[Byte]]; pos = 0; true }
  }

  override def read(): Int = {
    if (pos >= cur.length && !advance()) return -1
    val b = cur(pos) & 0xFF
    pos += 1
    b
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (len == 0) return 0
    if (pos >= cur.length && !advance()) return -1
    val n = math.min(len, cur.length - pos)
    System.arraycopy(cur, pos, b, off, n)
    pos += n
    n
  }

  override def close(): Unit = {
    closed = true
    queue.clear() // unblock a pump stuck on offer()
  }
}

/** Reads lines from a (bounded) stream while tracking exact byte
  * offsets, so `#S` block boundaries can be recorded for later
  * `seek`. Lines are `\n`-terminated; a trailing `\r` is stripped.
  */
private[sources] final class OffsetLineReader(in: InputStream) {
  private val buf = new Array[Byte](64 * 1024)
  private var bufLen = 0
  private var bufPos = 0
  private var offset = 0L
  private val lineBuf = new java.io.ByteArrayOutputStream(256)

  /** Byte offset of the start of the line most recently returned. */
  var lineStart: Long = 0L
  /** Byte offset of the next unread byte (= end of stream after EOF). */
  def position: Long = offset

  /** Next line without its terminator, or null at EOF. */
  def readLine(): String = {
    lineBuf.reset()
    lineStart = offset
    var sawAny = false
    var done = false
    while (!done) {
      if (bufPos >= bufLen) {
        bufLen = in.read(buf)
        bufPos = 0
        if (bufLen < 0) {
          if (!sawAny) return null
          done = true
        }
      } else {
        val b = buf(bufPos); bufPos += 1; offset += 1
        sawAny = true
        if (b == '\n') done = true else lineBuf.write(b.toInt)
      }
    }
    val bytes = lineBuf.toByteArray
    val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r') bytes.length - 1
            else bytes.length
    new String(bytes, 0, n, StandardCharsets.UTF_8)
  }
}

/** Caps reads at `limit` bytes — wraps a seeked `FSDataInputStream`
  * so a partition reader can only consume its own scan block.
  */
private[sources] final class BoundedInputStream(in: InputStream, limit: Long) extends InputStream {
  private var remaining = limit
  override def read(): Int =
    if (remaining <= 0) -1
    else { val b = in.read(); if (b >= 0) remaining -= 1; b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (remaining <= 0) return -1
    val n = in.read(b, off, math.min(len.toLong, remaining).toInt)
    if (n > 0) remaining -= n
    n
  }
  override def close(): Unit = in.close()
}

/** File metadata captured at expansion time (drives index-cache
  * validation and deterministic partition order).
  */
final case class SpecFileMeta(path: String, len: Long, mtime: Long)

/** One `#S` block of a SPEC file: its scan number, bytes
  * [start, end), its point count (the rows the reader emits for it)
  * and the `#O` motor names in force at its `#S`. The counts let
  * COUNT(*)/MIN/MAX(scan) answer from the index alone (sidecar-cached).
  */
final case class SpecBlock(scan: Long, start: Long, end: Long, points: Long,
                           motors: Array[String])

/** What one walk over bytes [.., end) of a SPEC file found: its blocks
  * (the last one ending at `end`), the start of the newest raw `#S`
  * line — parseable or not — and the motor names in force there.
  * A live tail keeps one per file and resumes at `lastHeader`.
  */
final case class SpecWalk(blocks: Vector[SpecBlock], lastHeader: Long,
                          motors: Array[String], end: Long)

object SpecSchema {
  val schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("scan", LongType, nullable = false),
    StructField("command", StringType, nullable = true),
    StructField("date", StringType, nullable = true),
    StructField("count_time", DoubleType, nullable = true),
    StructField("monitor", DoubleType, nullable = true),
    StructField("geometry", ArrayType(DoubleType, containsNull = false), nullable = true),
    StructField("hkl", ArrayType(DoubleType, containsNull = false), nullable = true),
    StructField("point", LongType, nullable = false),
    StructField("motors", MapType(StringType, DoubleType), nullable = true),
    StructField("data", MapType(StringType, DoubleType), nullable = true),
    StructField("mca", ArrayType(DoubleType, containsNull = false), nullable = true)))

  /** `#O`/`#L` fields are separated by TWO or more spaces (single
    * spaces can occur inside a name) — pyspec spec.py convention. */
  def splitLabels(s: String): Array[String] =
    s.trim.split("\\s{2,}").filter(_.nonEmpty)

  private def hasGlob(p: String): Boolean =
    p.exists(c => c == '*' || c == '?' || c == '[' || c == '{')

  /** Expand paths (file, directory, or glob) into concrete files via
    * the Hadoop FileSystem for each path's scheme, sorted for
    * deterministic partition order. Index sidecars are skipped.
    */
  def expand(paths: Seq[String], conf: Configuration): Seq[SpecFileMeta] = paths.flatMap { p =>
    val path = new Path(p)
    val fs = path.getFileSystem(conf)
    val statuses: Seq[FileStatus] =
      if (hasGlob(p)) Option(fs.globStatus(path)).getOrElse(Array.empty[FileStatus])
        .toSeq.flatMap { st =>
          if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile).toSeq else Seq(st)
        }
      else {
        val st = fs.getFileStatus(path) // throws FileNotFoundException like the reader would
        if (st.isDirectory) fs.listStatus(path).filter(_.isFile).toSeq else Seq(st)
      }
    statuses
      // Spark convention: dot/underscore files are metadata, not data
      // (this also hides index sidecars and in-flight .specpart temps)
      .filterNot { st =>
        val n = st.getPath.getName
        n.startsWith(".") || n.startsWith("_") ||
          n.endsWith(SpecIndex.SidecarSuffix) || n.endsWith(EdfSchema.SidecarSuffix)
      }
      .map(st => SpecFileMeta(st.getPath.toString, st.getLen, st.getModificationTime))
  }.sortBy(_.path)
}

/** Byte-offset scan indexing, with an optional `<file>.specidx`
  * sidecar cache so an unchanged corpus is never re-scanned.
  */
object SpecIndex {
  val SidecarSuffix = ".specidx"

  /** The one pass over a SPEC file's lines, for bytes [from, to):
    * `from` is 0 or the start of an `#S` line, and `motors` the `#O`
    * names in force there. Every `#S` line ends the block before it; a
    * block whose `#S` has no scan number is not listed, but its header
    * still counts as the newest `#S`. Points are counted with the
    * partition reader's rules: a non-# nonempty line counts iff ≥1
    * token parses as a double, and an MCA block (`@A ...` with
    * backslash continuations, ended by any `#S`) never counts. The
    * `#O` lines of one header make up the motor set; an `#O` line after
    * an `#S` starts a new set, in force from the next `#S` on.
    */
  def walk(path: String, conf: Configuration, from: Long, to: Long,
           motors: Array[String]): SpecWalk = {
    val blocks = Vector.newBuilder[SpecBlock]
    var lastHeader = from
    var lastMotors = motors
    if (to > from) {
      val p = new Path(path)
      val in = p.getFileSystem(conf).open(p)
      try {
        in.seek(from)
        val reader = new OffsetLineReader(new BoundedInputStream(in, to - from))
        var names = motors
        var fresh = true // the next #O line starts a new set
        var scan = -1L
        var points = 0L
        var inMca = false
        def close(end: Long): Unit =
          if (scan >= 0) blocks += SpecBlock(scan, lastHeader, end, points, lastMotors)
        var line = reader.readLine()
        while (line != null) {
          if (line.startsWith("#S ")) {
            close(from + reader.lineStart)
            scan = line.drop(3).trim.takeWhile(_.isDigit) match {
              case "" => -1L
              case d => d.toLong
            }
            lastHeader = from + reader.lineStart
            lastMotors = names
            points = 0L
            fresh = true
            inMca = false
          }
          else if (inMca) inMca = line.trim.endsWith("\\")
          else if (line.startsWith("@A")) inMca = line.trim.endsWith("\\")
          else if (line.startsWith("#O")) {
            val more = SpecSchema.splitLabels(line.dropWhile(_ != ' '))
            names = if (fresh) more else names ++ more
            fresh = false
          }
          else if (scan >= 0 && !line.startsWith("#") && line.trim.nonEmpty &&
                   line.trim.split("\\s+").exists(t => scala.util.Try(t.toDouble).isSuccess))
            points += 1
          line = reader.readLine()
        }
        close(to)
      } finally in.close()
    }
    SpecWalk(blocks.result(), lastHeader, lastMotors, to)
  }

  /** Every block of a complete file. */
  def indexFile(meta: SpecFileMeta, conf: Configuration): Seq[SpecBlock] =
    walk(meta.path, conf, 0L, meta.len, Array.empty).blocks

  /** Index with sidecar caching: a valid `<file>.specidx` (matching
    * length+mtime+content fingerprint) short-circuits the scan pass;
    * otherwise the file is indexed and the stale sidecar is
    * (best-effort) overwritten in place — that rewrite IS the cache
    * eviction: one sidecar per spec file, replaced atomically whenever
    * any validity check fails, so sidecars never accumulate. A sidecar
    * orphaned by deleting its spec file is inert (nothing reads it).
    */
  def indexWithCache(meta: SpecFileMeta, conf: Configuration, cache: Boolean): Seq[SpecBlock] = {
    if (!cache) return indexFile(meta, conf)
    readSidecar(meta, conf).getOrElse {
      val idx = indexFile(meta, conf)
      scala.util.Try(writeSidecar(meta, idx, conf)) // read-only dirs are fine
      idx
    }
  }

  private def sidecarPath(meta: SpecFileMeta) = new Path(meta.path + SidecarSuffix)

  /** CRC32 of the file's first and last 4 KiB. (length, mtime) alone
    * can validate a stale sidecar: a file rewritten to the same length
    * within the filesystem's mtime granularity (1 s on ext4/HDFS) is
    * indistinguishable by metadata. 8 KiB of content is cheap next to
    * the full-scan pass the sidecar avoids, and any header edit, scan
    * renumber, or tail append moves one of the two windows.
    */
  def fingerprint(meta: SpecFileMeta, conf: Configuration): Long = {
    val p = new Path(meta.path)
    val fs = p.getFileSystem(conf)
    val crc = new java.util.zip.CRC32
    val in = fs.open(p)
    try {
      val head = new Array[Byte](math.min(4096L, meta.len).toInt)
      in.readFully(0L, head)
      crc.update(head)
      if (meta.len > 4096) {
        val tailStart = math.max(4096L, meta.len - 4096)
        val tail = new Array[Byte]((meta.len - tailStart).toInt)
        in.readFully(tailStart, tail)
        crc.update(tail)
      }
      crc.getValue
    } finally in.close()
  }

  /** Sidecar wire format (one record per line, tab-separated):
    *   specidx\tv4\t<len>\t<mtime>\t<crc of first+last 4KiB>
    *   O\tname1\tname2...   (motor names of the S records after it)
    *   S\t<scanNo>\t<startByte>\t<endByte>\t<nPoints>
    * Older sidecars (v1 without fingerprint, v2 without per-scan
    * point counts, v3 with one file-wide motor list) fail the version
    * check and are reindexed + rewritten as v4 — the in-place rewrite
    * is the migration.
    */
  def readSidecar(meta: SpecFileMeta, conf: Configuration): Option[Seq[SpecBlock]] =
    scala.util.Try {
      val p = sidecarPath(meta)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      val lines = text.linesIterator.toArray
      val head = lines.head.split('\t')
      if (head.length != 5 || head(0) != "specidx" || head(1) != "v4" ||
          head(2).toLong != meta.len || head(3).toLong != meta.mtime ||
          head(4).toLong != fingerprint(meta, conf)) return None
      var motors = Array.empty[String]
      Some(lines.toSeq.flatMap { l =>
        val t = l.split('\t')
        t(0) match {
          case "O" => motors = t.drop(1); None
          case "S" => Some(SpecBlock(t(1).toLong, t(2).toLong, t(3).toLong, t(4).toLong, motors))
          case _ => None
        }
      })
    }.toOption.flatten

  def writeSidecar(meta: SpecFileMeta, blocks: Seq[SpecBlock], conf: Configuration): Unit = {
    val p = sidecarPath(meta)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try {
      val sb = new StringBuilder
      sb.append(s"specidx\tv4\t${meta.len}\t${meta.mtime}\t${fingerprint(meta, conf)}\n")
      var motors = Array.empty[String]
      blocks.foreach { b =>
        if (!b.motors.sameElements(motors)) {
          motors = b.motors
          sb.append("O").append(motors.map("\t" + _).mkString).append('\n')
        }
        sb.append(s"S\t${b.scan}\t${b.start}\t${b.end}\t${b.points}\n")
      }
      out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
    } finally out.close()
  }
}

final case class SpecInputPartition(path: String, scanNo: Long,
                                    startByte: Long, endByte: Long,
                                    motorNames: Array[String]) extends InputPartition

object SpecInputPartition {
  /** Bytes [b.start, end) of block `b`. */
  def apply(path: String, b: SpecBlock, end: Long): SpecInputPartition =
    SpecInputPartition(path, b.scan, b.start, end, b.motors)
}

class SpecTable(paths: Seq[String]) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"spec(${paths.mkString(",")})"
  override def schema(): StructType = SpecSchema.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new SpecWriteSupport.SpecWriteBuilder(paths, info)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // duplicates=last mirrors pyspec SpecDataFile: re-running scan N
    // appends a fresh "#S N" block, and the index keeps only the
    // newest occurrence per file. Default "all" exposes every block.
    // indexCache defaults ON: the sidecar turns the per-file index
    // pass into an 8 KiB fingerprint check on every re-read, stale
    // sidecars self-evict (reindex + overwrite), and read-only
    // directories degrade gracefully (write is best-effort). Opt out
    // with indexCache=false for write-once-read-once scratch files.
    new SpecScanBuilder(paths,
      options.getOrDefault("duplicates", "all").toLowerCase == "last",
      options.getBoolean("indexCache", true),
      options.getBoolean("emitLast", false))
}

class SpecScanBuilder(paths: Seq[String], keepLast: Boolean = false,
                      indexCache: Boolean = false, emitLast: Boolean = false)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  private var pushed: Array[Filter] = Array.empty
  // Column pruning: a `select(file, scan)` must not pay for building
  // the motors/data maps and mca arrays of every point.
  private var required: StructType = SpecSchema.schema
  private var wanted = FrameFilter("scan")
  private var fileEq: Option[Set[String]] = None
  private var aggTags: Option[Seq[String]] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rest) = filters.partition(wanted.accepts)
    wanted = accepted.foldLeft(wanted)(_ and _)
    // file-equality filters skip whole FILES before they are indexed
    // (at corpus scale the index pass itself is the cost to avoid);
    // they stay residual
    val files = rest.collect {
      case f @ EqualTo("file", v: String) => f -> Set(v)
      case f @ In("file", vs) => f -> vs.collect { case s: String => s }.toSet
    }
    if (files.nonEmpty) fileEq = Some(files.map(_._2).reduce(_ intersect _))
    pushed = accepted ++ files.map(_._1)
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  // Ungrouped COUNT(*) / MIN / MAX(scan) answer from the index pass
  // alone (sidecar-cached — no data bytes stream). Spark attempts it
  // only when no residual filter remains, which `scan` filters never
  // leave.
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggTags = IndexAggScan.tags(agg, "scan")
    aggTags.isDefined
  }

  /** (file, block) per scan block the read covers: the pushed file
    * pruning, then the keepLast dedup, then the pushed scan pruning. */
  private def planned(): Seq[(String, SpecBlock)] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val files = SpecSchema.expand(paths, conf).filter(f => fileEq.forall(_.contains(f.path)))
    val cache = indexCache // the task closure must not capture this builder
    files.zip(FrameSource.headerPass(files, conf)(SpecIndex.indexWithCache(_, _, cache)))
      .flatMap { case (meta, blocks) =>
        val kept =
          if (keepLast) blocks.groupBy(_.scan).values.map(_.maxBy(_.start)).toSeq.sortBy(_.start)
          else blocks
        kept.filter(b => wanted.contains(b.scan)).map(meta.path -> _)
      }
  }

  override def build(): Scan = aggTags match {
    case Some(tags) => new IndexAggScan(tags,
      () => planned().map { case (_, b) => (b.scan, b.scan, b.points) })
    case None => rowScan()
  }

  private def hadoopConf() =
    new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf())

  private def rowScan(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      planned().map { case (path, b) => SpecInputPartition(path, b, b.end) }.toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new SpecReaderFactory(hadoopConf(), required.fieldNames)
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
      val conf = hadoopConf()
      new LiveMicroBatchStream(new SpecTail(emitLast), paths, conf,
        new SpecReaderFactory(conf, required.fieldNames))
    }
  }
}

/** The `readStream` half of the format, for watching an experiment as
  * it acquires: spec instruments APPEND `#S` blocks to a growing file,
  * so each micro-batch emits the scans that became COMPLETE since the
  * last offset. A scan is complete once a later `#S` exists — parseable
  * or not, as the batch reader also ends a block there; the trailing
  * (possibly still-writing) block is held back until the next header
  * appears (`emitLast` emits it too, for corpora known closed).
  *
  * A file's state is its [[SpecWalk]] so far. Its offset is the byte
  * start of the newest raw `#S` (the file length under `emitLast`), so
  * recovery replans the exact same scans from the checkpoint. A growing
  * file is walked again only from that `#S` on: bytes before it are
  * never re-read.
  */
final class SpecTail(emitLast: Boolean) extends LiveTail[SpecWalk] {
  override def advance(meta: SpecFileMeta, conf: Configuration,
                       prev: Option[SpecWalk]): SpecWalk = {
    val p = prev.getOrElse(SpecWalk(Vector.empty, 0L, Array.empty, 0L))
    val w = SpecIndex.walk(meta.path, conf, p.lastHeader, meta.len, p.motors)
    w.copy(blocks = p.blocks.takeWhile(_.start < p.lastHeader) ++ w.blocks)
  }

  override def offset(w: SpecWalk): Long = if (emitLast) w.end else w.lastHeader

  // a block that starts before `to` ends at or before it, except the
  // trailing block an emitLast offset cut: replays read it to `to`
  override def partitions(path: String, w: SpecWalk, from: Long,
                          to: Long): Seq[InputPartition] =
    w.blocks.filter(b => b.start >= from && b.start < to)
      .map(b => SpecInputPartition(path, b, math.min(b.end, to)))
}

/** Per-file committed byte positions — the stream's offset. */
final case class SpecStreamOffset(files: Map[String, Long])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    files.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    mapper.writeValueAsString(node)
  }
}

object SpecStreamOffset {
  def fromJson(json: String): SpecStreamOffset = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
    val m = mutable.Map[String, Long]()
    node.fieldNames().asScala.foreach(f => m(f) = node.get(f).asLong())
    SpecStreamOffset(m.toMap)
  }
}

class SpecReaderFactory(conf: SerializableHadoopConf,
                        columns: Array[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new SpecPartitionReader(partition.asInstanceOf[SpecInputPartition], conf.value, columns)
}

/** Parses one scan's byte range into data-point rows: opens the file
  * through Hadoop FS, `seek`s to the block start, and reads exactly
  * `endByte - startByte` bytes — a K-scan file costs O(file bytes)
  * across all K partitions combined. Only the pruned `columns` are
  * materialized per row (header parsing is line-bound either way, but
  * map/array construction per point is skipped for unread fields).
  */
class SpecPartitionReader(p: SpecInputPartition, conf: Configuration,
                          columns: Array[String] = SpecSchema.schema.fieldNames)
    extends PartitionReader[InternalRow] {
  private val rows: Iterator[InternalRow] = {
    val path = new Path(p.path)
    val fs = path.getFileSystem(conf)
    val raw = fs.open(path)
    var stream: InputStream = null
    val reader = try {
      raw.seek(p.startByte)
      val bounded = new BoundedInputStream(raw, p.endByte - p.startByte)
      // blocks bigger than one prefetch chunk parse while their later
      // bytes stream in on the read-ahead thread; smaller blocks gain
      // nothing from a second thread
      stream =
        if (p.endByte - p.startByte >= SpecPartitionReader.PrefetchMinBytes)
          new PrefetchInputStream(bounded)
        else bounded
      new OffsetLineReader(stream)
    } catch { case e: Throwable => raw.close(); throw e }
    SpecIOMetrics.bytesRead.add(p.endByte - p.startByte)
    var command: String = null
    var date: String = null
    var countTime: java.lang.Double = null
    var monitor: java.lang.Double = null
    val geom = mutable.ArrayBuffer[Double]()
    val hkl = mutable.ArrayBuffer[Double]()
    val positions = mutable.ArrayBuffer[Double]()
    var positionsValid = true
    var labels: Array[String] = Array.empty
    val dataRows = mutable.ArrayBuffer[Array[Double]]()
    val mcaRows = mutable.ArrayBuffer[Array[Double]]() // parallel to dataRows
    var pendingMca: mutable.ArrayBuffer[Double] = null
    var inMcaContinuation = false
    def mcaVals(s: String): Array[Double] =
      s.stripSuffix("\\").trim.split("\\s+").filter(_.nonEmpty)
        .flatMap(t => scala.util.Try(t.toDouble).toOption)
    def headerNum(line: String): java.lang.Double =
      line.drop(3).trim.split("\\s+").headOption
        .flatMap(t => scala.util.Try(t.toDouble).toOption)
        .map(Double.box).orNull
    try {
      var line = reader.readLine()
      while (line != null) {
        // "@A v1 v2 ... \" begins a point's MCA spectrum (pyspec
        // scan.MCA); lines continue while they end with a backslash,
        // and the block attaches to the NEXT scalar data row.
        if (inMcaContinuation) {
          pendingMca ++= mcaVals(line)
          inMcaContinuation = line.trim.endsWith("\\")
        }
        else if (line.startsWith("@A")) {
          pendingMca = mutable.ArrayBuffer[Double]()
          pendingMca ++= mcaVals(line.drop(2))
          inMcaContinuation = line.trim.endsWith("\\")
        }
        else if (line.startsWith("#S ")) command = line.drop(3).trim.dropWhile(_.isDigit).trim
        else if (line.startsWith("#D ")) date = line.drop(3).trim
        else if (line.startsWith("#T ")) countTime = headerNum(line)
        else if (line.startsWith("#M ")) monitor = headerNum(line)
        else if (line.startsWith("#G"))
          geom ++= line.dropWhile(_ != ' ').trim.split("\\s+").filter(_.nonEmpty)
            .flatMap(t => scala.util.Try(t.toDouble).toOption)
        else if (line.startsWith("#Q "))
          hkl ++= line.drop(3).trim.split("\\s+").filter(_.nonEmpty)
            .flatMap(t => scala.util.Try(t.toDouble).toOption)
        else if (line.startsWith("#P")) {
          // #P values align positionally with #O names — a malformed
          // token can't just be dropped (it would shift every later
          // motor), so it invalidates the whole motors map instead of
          // failing the partition.
          val toks = line.dropWhile(_ != ' ').trim.split("\\s+").filter(_.nonEmpty)
            .map(t => scala.util.Try(t.toDouble).toOption)
          if (toks.exists(_.isEmpty)) positionsValid = false
          positions ++= toks.map(_.getOrElse(Double.NaN))
        }
        else if (line.startsWith("#L")) labels = SpecSchema.splitLabels(line.drop(2))
        else if (!line.startsWith("#") && line.trim.nonEmpty) {
          // tolerate malformed points (truncated writes mid-scan are
          // common in live spec files) — skip the line, keep the scan
          val vals = line.trim.split("\\s+")
            .flatMap(t => scala.util.Try(t.toDouble).toOption)
          if (vals.nonEmpty) {
            dataRows += vals
            mcaRows += (if (pendingMca == null) null else pendingMca.toArray)
            pendingMca = null
          }
        }
        line = reader.readLine()
      }
    } finally {
      if (stream != null) scala.util.Try(stream.close())
      raw.close()
    }
    // scan-constant values, built once and only if requested
    val need = columns.toSet
    lazy val motorMap =
      if (positionsValid) mapData(p.motorNames.take(positions.length), positions.toArray)
      else null
    lazy val fileU = UTF8String.fromString(p.path)
    lazy val cmdU = if (command == null) null else UTF8String.fromString(command)
    lazy val dateU = if (date == null) null else UTF8String.fromString(date)
    lazy val geomArr = if (geom.isEmpty) null
      else new GenericArrayData(geom.toArray.map(v => v: Any))
    lazy val hklArr = if (hkl.isEmpty) null
      else new GenericArrayData(hkl.toArray.map(v => v: Any))
    require(need.subsetOf(SpecSchema.schema.fieldNames.toSet),
      s"unknown spec columns: ${need -- SpecSchema.schema.fieldNames}")
    dataRows.iterator.zipWithIndex.map { case (vals, idx) =>
      val values: Array[Any] = columns.map {
        case "file" => fileU
        case "scan" => p.scanNo
        case "command" => cmdU
        case "date" => dateU
        case "count_time" => countTime
        case "monitor" => monitor
        case "geometry" => geomArr
        case "hkl" => hklArr
        case "point" => idx.toLong
        case "motors" => motorMap
        case "data" => mapData(labels.take(vals.length), vals)
        case "mca" =>
          val mca = mcaRows(idx)
          if (mca == null) null else new GenericArrayData(mca.map(v => v: Any))
      }
      InternalRow(values: _*)
    }
  }

  private def mapData(keys: Array[String], values: Array[Double]): ArrayBasedMapData = {
    val n = math.min(keys.length, values.length)
    new ArrayBasedMapData(
      new GenericArrayData(keys.take(n).map(UTF8String.fromString(_)).asInstanceOf[Array[Any]]),
      new GenericArrayData(values.take(n).map(v => v: Any)))
  }

  private var cur: InternalRow = _
  override def next(): Boolean = { if (rows.hasNext) { cur = rows.next(); true } else false }
  override def get(): InternalRow = cur
  override def close(): Unit = ()
}

object SpecPartitionReader {
  /** Minimum block size for the read-ahead thread (= one prefetch
    * chunk; below this the whole block is a single read anyway). */
  val PrefetchMinBytes: Long = 256L * 1024
}
