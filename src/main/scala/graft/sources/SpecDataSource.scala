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
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
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
  * job (one task per file — the same pattern as Spark's parallel
  * partition discovery), so the driver never streams file contents;
  * it only collects the per-scan offset table. Setting
  * `.option("indexCache", "true")` persists each file's index to a
  * `<file>.specidx` sidecar (validated against length+mtime) so
  * re-reads of an unchanged corpus skip the scan pass entirely.
  *
  * pyspec's "random access by scan number" maps onto partition
  * PRUNING: equality/IN filters on the `scan` column skip whole
  * partitions before any byte of their data block is read.
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
    val opts = properties.asScala
    // `paths` is a JSON array (written by DataFrameReader.load(paths*));
    // parse it properly so paths containing commas/quotes survive.
    val paths = opts.get("paths")
      .map(SpecSchema.parseJsonPaths)
      .orElse(opts.get("path").map(Seq(_)))
      .getOrElse(Seq.empty)
    new SpecTable(paths)
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

/** A file's scan index: file-level `#O` motor names plus one
  * `(scanNo, startByte, endByteExcl)` entry per `#S` block, and the
  * parallel per-scan POINT counts (rows the reader would emit —
  * counted with the reader's own rules: non-# nonempty lines with ≥1
  * parseable numeric token, MCA blocks excluded). The counts are what
  * lets COUNT(*)/MIN/MAX(scan) aggregates answer from the index pass
  * alone (sidecar-cached), the SPE/EDF/TIFF parity surface.
  */
final case class SpecFileIndex(path: String, motorNames: Array[String],
                               scans: Seq[(Long, Long, Long)],
                               points: Seq[Long])

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

  /** Parse the DSv2 `paths` option (a JSON string array). Jackson is
    * already on the classpath via Spark. Falls back to treating the
    * raw string as a single path if it isn't valid JSON.
    */
  def parseJsonPaths(json: String): Seq[String] =
    scala.util.Try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(json)
      require(node.isArray)
      (0 until node.size()).map(i => node.get(i).asText())
    }.getOrElse(Seq(json))

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
  /** Files-per-read below which indexing happens inline on the driver
    * instead of as a one-task-per-file Spark job (same idea as
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`). */
  val ParallelThreshold = 4

  /** Single streaming pass over a file: collect `#O` motor names and
    * `(scanNo, startByte, endByteExcl)` per `#S` block. Only header
    * prefixes are inspected; the pass is O(file bytes) and runs where
    * it is called (driver for few files, index task otherwise).
    */
  def indexFile(meta: SpecFileMeta, conf: Configuration): SpecFileIndex = {
    val path = new Path(meta.path)
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    try {
      val reader = new OffsetLineReader(in)
      val motorNames = mutable.ArrayBuffer[String]()
      val scans = mutable.ArrayBuffer[(Long, Long, Long)]()
      val points = mutable.ArrayBuffer[Long]()
      var curScan = -1L
      var curStart = -1L
      var curPoints = 0L
      // point counting mirrors the PARTITIONED SpecPartitionReader
      // exactly: every #S is a block boundary (partition readers
      // start fresh there, so #S wins over a dangling MCA
      // continuation), an MCA block (@A ... with backslash
      // continuations) never counts, and a non-# nonempty line
      // counts iff ≥1 token parses as a double
      var inMca = false
      var line = reader.readLine()
      while (line != null) {
        if (line.startsWith("#S ")) {
          if (curScan >= 0) { scans += ((curScan, curStart, reader.lineStart)); points += curPoints }
          curScan = line.drop(3).trim.takeWhile(_.isDigit) match {
            case "" => -1L
            case d => d.toLong
          }
          curStart = reader.lineStart
          curPoints = 0L
          inMca = false
        }
        else if (inMca) inMca = line.trim.endsWith("\\")
        else if (line.startsWith("@A")) inMca = line.trim.endsWith("\\")
        else if (line.startsWith("#O")) motorNames ++= SpecSchema.splitLabels(line.dropWhile(_ != ' '))
        else if (curScan >= 0 && !line.startsWith("#") && line.trim.nonEmpty) {
          if (line.trim.split("\\s+")
              .exists(t => scala.util.Try(t.toDouble).isSuccess)) curPoints += 1
        }
        line = reader.readLine()
      }
      if (curScan >= 0) { scans += ((curScan, curStart, reader.position)); points += curPoints }
      SpecFileIndex(meta.path, motorNames.toArray, scans.toSeq, points.toSeq)
    } finally in.close()
  }

  /** Index with sidecar caching: a valid `<file>.specidx` (matching
    * length+mtime+content fingerprint) short-circuits the scan pass;
    * otherwise the file is indexed and the stale sidecar is
    * (best-effort) overwritten in place — that rewrite IS the cache
    * eviction: one sidecar per spec file, replaced atomically whenever
    * any validity check fails, so sidecars never accumulate. A sidecar
    * orphaned by deleting its spec file is inert (nothing reads it).
    */
  def indexWithCache(meta: SpecFileMeta, conf: Configuration, cache: Boolean): SpecFileIndex = {
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
    *   specidx\tv3\t<len>\t<mtime>\t<crc of first+last 4KiB>
    *   O\tname1\tname2...
    *   S\t<scanNo>\t<startByte>\t<endByte>\t<nPoints>
    * Older sidecars (v1 without fingerprint, v2 without per-scan
    * point counts) fail the version check and are reindexed +
    * rewritten as v3 — the in-place rewrite is the migration.
    */
  def readSidecar(meta: SpecFileMeta, conf: Configuration): Option[SpecFileIndex] =
    scala.util.Try {
      val p = sidecarPath(meta)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      val lines = text.linesIterator.toArray
      val head = lines.head.split('\t')
      if (head.length != 5 || head(0) != "specidx" || head(1) != "v3" ||
          head(2).toLong != meta.len || head(3).toLong != meta.mtime ||
          head(4).toLong != fingerprint(meta, conf)) return None
      val motors = lines.collectFirst { case l if l.startsWith("O\t") => l.split('\t').drop(1) }
        .getOrElse(Array.empty[String])
      val recs = lines.collect { case l if l.startsWith("S\t") =>
        val t = l.split('\t'); ((t(1).toLong, t(2).toLong, t(3).toLong), t(4).toLong)
      }.toSeq
      Some(SpecFileIndex(meta.path, motors, recs.map(_._1), recs.map(_._2)))
    }.toOption.flatten

  def writeSidecar(meta: SpecFileMeta, idx: SpecFileIndex, conf: Configuration): Unit = {
    val p = sidecarPath(meta)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try {
      val sb = new StringBuilder
      sb.append(s"specidx\tv3\t${meta.len}\t${meta.mtime}\t${fingerprint(meta, conf)}\n")
      if (idx.motorNames.nonEmpty) sb.append("O\t").append(idx.motorNames.mkString("\t")).append('\n')
      idx.scans.zip(idx.points).foreach { case ((no, s, e), np) =>
        sb.append(s"S\t$no\t$s\t$e\t$np\n") }
      out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
    } finally out.close()
  }
}

final case class SpecInputPartition(path: String, scanNo: Long,
                                    startByte: Long, endByte: Long,
                                    motorNames: Array[String]) extends InputPartition

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
  private var scanEq: Option[Set[Long]] = None
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = SpecSchema.schema

  // Column pruning: a `select(file, scan)` must not pay for building
  // the motors/data maps and mca arrays of every point.
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private var scanLo: Long = Long.MinValue
  private var scanHi: Long = Long.MaxValue
  private var fileEq: Option[Set[String]] = None

  private def longOf(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val wanted = filters.collect {
      case EqualTo("scan", v) if longOf(v).isDefined => Set(longOf(v).get)
      case In("scan", vs) => vs.flatMap(longOf).toSet
    }
    if (wanted.nonEmpty) scanEq = Some(wanted.reduce(_ intersect _))
    // range predicates prune too (a scan number is monotone in
    // acquisition order, so "scans after 100" is a common access)
    filters.foreach {
      case GreaterThan("scan", v) => longOf(v).foreach(l => scanLo = math.max(scanLo, l + 1))
      case GreaterThanOrEqual("scan", v) => longOf(v).foreach(l => scanLo = math.max(scanLo, l))
      case LessThan("scan", v) => longOf(v).foreach(l => scanHi = math.min(scanHi, l - 1))
      case LessThanOrEqual("scan", v) => longOf(v).foreach(l => scanHi = math.min(scanHi, l))
      case _ => ()
    }
    // file-equality filters skip whole FILES before they are indexed
    // (at corpus scale the index pass itself is the cost to avoid)
    val wantedFiles = filters.collect {
      case EqualTo("file", v: String) => Set(v)
      case In("file", vs) => vs.collect { case s: String => s }.toSet
    }
    if (wantedFiles.nonEmpty) fileEq = Some(wantedFiles.reduce(_ intersect _))
    pushed = filters.filter {
      case EqualTo("scan", _) | In("scan", _) => true
      case GreaterThan("scan", _) | GreaterThanOrEqual("scan", _) => true
      case LessThan("scan", _) | LessThanOrEqual("scan", _) => true
      case EqualTo("file", _) | In("file", _) => true
      case _ => false
    }
    filters // all filters stay as residual (pruning is an extra win)
  }
  override def pushedFilters(): Array[Filter] = pushed

  private def scanWanted(no: Long): Boolean =
    no >= scanLo && no <= scanHi && scanEq.forall(_.contains(no))

  /** All file indexes, honoring pushed file-equality pruning. Index
    * off the driver once the corpus is more than a handful of files:
    * one task per file, collecting only the offset tables (metadata,
    * not data) — the driver never streams file bytes. */
  private def computeIndexes(): Seq[SpecFileIndex] = {
    val spark = SparkSession.active
    val hconf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val files = SpecSchema.expand(paths, hconf.value)
      .filter(f => fileEq.forall(_.contains(f.path)))
    val cache = indexCache
    if (files.size <= SpecIndex.ParallelThreshold)
      files.map(SpecIndex.indexWithCache(_, hconf.value, cache))
    else
      spark.sparkContext.parallelize(files, files.size)
        .map(SpecIndex.indexWithCache(_, hconf.value, cache))
        .collect().toSeq.sortBy(_.path)
  }

  /** One ((scanNo, start, end), nPoints) per scan block the read
    * should cover: keepLast dedup then pushed scan pruning. */
  private def wantedOf(idx: SpecFileIndex): Seq[((Long, Long, Long), Long)] = {
    val zipped = idx.scans.zip(idx.points)
    val base =
      if (keepLast)
        zipped.groupBy(_._1._1).values.map(_.maxBy(_._1._2)).toSeq.sortBy(_._1._2)
      else zipped
    base.filter { case ((no, _, _), _) => scanWanted(no) }
  }

  // Pushed aggregate tags — the SPE/EDF/TIFF parity surface (#442):
  // ungrouped COUNT(*) / MIN / MAX(scan) answer from the index pass
  // alone (sidecar-cached — no data bytes stream). Partial semantics;
  // Spark final-merges. Spark only attempts aggregate pushdown when
  // no residual filters remain, and this source deliberately keeps
  // every filter residual, so the agg path serves the unfiltered
  // corpus-audit queries ("how many points / which scan range").
  private var aggTags: Option[Seq[String]] = None
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggTags = IndexAggScan.tags(agg, "scan")
    aggTags.isDefined
  }

  override def build(): Scan = aggTags match {
    case Some(tags) => new IndexAggScan(tags,
      () => computeIndexes().flatMap(idx =>
        wantedOf(idx).map { case ((no, _, _), np) => (no, no, np) }))
    case None => rowScan()
  }

  private def rowScan(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      computeIndexes().flatMap { idx =>
        wantedOf(idx).map { case ((no, s, e), _) =>
          SpecInputPartition(idx.path, no, s, e, idx.motorNames)
        }
      }.toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new SpecReaderFactory(new SerializableHadoopConf(
        SparkSession.active.sessionState.newHadoopConf()), required.fieldNames)

    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new SpecMicroBatchStream(paths,
        new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf()),
        required.fieldNames, emitLast)
  }
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

/** Structured-Streaming source over LIVE spec files — the `readStream`
  * half of the format, for watching an experiment as it acquires:
  * spec instruments APPEND `#S` blocks to a growing file, so each
  * micro-batch emits the scans that became COMPLETE since the last
  * offset. A scan is complete once a later `#S` exists; the trailing
  * (possibly still-writing) block is held back until the next header
  * appears (`option("emitLast", "true")` emits it too, for corpora
  * known closed). New files appearing under the path are picked up
  * automatically.
  *
  * Offsets are per-file byte positions of the newest safe boundary,
  * so recovery replans the exact same scans from the checkpoint (the
  * byte range [start, end) re-indexes deterministically); each
  * trigger re-reads only bytes PAST the previous boundary, never the
  * whole file. Partitions/readers are the batch ones — one partition
  * per newly completed scan, seek + bounded read.
  */
class SpecMicroBatchStream(paths: Seq[String], conf: SerializableHadoopConf,
                           columns: Array[String], emitLast: Boolean)
    extends MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  // file-level #O names live in the header (before the first #S), so
  // they are read once per file and cached for the stream's lifetime
  private val motorCache = mutable.Map[String, Array[String]]()

  private def headerMotors(path: String): Array[String] =
    motorCache.getOrElseUpdate(path, {
      val p = new Path(path)
      val fs = p.getFileSystem(conf.value)
      val in = fs.open(p)
      try {
        val reader = new OffsetLineReader(in)
        val names = mutable.ArrayBuffer[String]()
        var line = reader.readLine()
        while (line != null && !line.startsWith("#S ")) {
          if (line.startsWith("#O")) names ++= SpecSchema.splitLabels(line.dropWhile(_ != ' '))
          line = reader.readLine()
        }
        names.toArray
      } finally in.close()
    })

  /** Scan blocks in [from, to): seek to `from` (always 0 or a prior
    * `#S` boundary) and walk forward. The block starting at the last
    * `#S` before `to` ends AT `to` by construction of latestOffset. */
  private def scansInRange(path: String, from: Long, to: Long): Seq[(Long, Long, Long)] =
    scanBlocks(path, from, to)._1

  /** (emittable scan blocks, safe boundary). The boundary is the byte
    * start of the LAST raw `#S` line in range — parseable or NOT — or
    * `from` when none: a malformed header still terminates (and so
    * completes) the block before it, and the batch reader emits that
    * completed block, so the stream must advance past it too.
    * Blocks whose own header doesn't parse are dropped from the
    * emit list (matching batch), but never hold the boundary back.
    */
  private def scanBlocks(path: String, from: Long, to: Long): (Seq[(Long, Long, Long)], Long) = {
    if (to <= from) return (Seq.empty, from)
    val p = new Path(path)
    val fs = p.getFileSystem(conf.value)
    val in = fs.open(p)
    try {
      in.seek(from)
      val reader = new OffsetLineReader(new BoundedInputStream(in, to - from))
      val scans = mutable.ArrayBuffer[(Long, Long, Long)]()
      var curScan = -1L
      var curStart = -1L
      var lastHeader = from
      var line = reader.readLine()
      while (line != null) {
        if (line.startsWith("#S ")) {
          if (curScan >= 0) scans += ((curScan, curStart, from + reader.lineStart))
          curScan = line.drop(3).trim.takeWhile(_.isDigit) match {
            case "" => -1L
            case d => d.toLong
          }
          curStart = from + reader.lineStart
          lastHeader = from + reader.lineStart
        }
        line = reader.readLine()
      }
      if (curScan >= 0) scans += ((curScan, curStart, to))
      (scans.toSeq, lastHeader)
    } finally in.close()
  }

  override def initialOffset(): Offset = SpecStreamOffset(Map.empty)

  override def deserializeOffset(json: String): Offset = SpecStreamOffset.fromJson(json)

  // tracked per stream instance purely to re-scan only new bytes;
  // correctness never depends on it (restart rescans from 0)
  private val seen = mutable.Map[String, Long]()

  override def latestOffset(): Offset = {
    val files = SpecSchema.expand(paths, conf.value)
    val offsets = files.map { meta =>
      val prev = seen.getOrElse(meta.path, 0L)
      val safe =
        if (emitLast) meta.len
        else {
          // newest raw #S start at or past the previous boundary:
          // bytes before it are complete blocks, the block after it
          // may still be appending. Raw (not just parseable) headers
          // advance this, else a malformed #S would withhold the
          // completed block before it forever.
          scanBlocks(meta.path, prev, meta.len)._2
        }
      seen(meta.path) = safe
      meta.path -> safe
    }.toMap
    SpecStreamOffset(offsets)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SpecStreamOffset].files
    val e = end.asInstanceOf[SpecStreamOffset].files
    e.toSeq.sortBy(_._1).flatMap { case (path, to) =>
      val from = s.getOrElse(path, 0L)
      scansInRange(path, from, to).map { case (no, b0, b1) =>
        SpecInputPartition(path, no, b0, b1, headerMotors(path))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SpecReaderFactory(conf, columns)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
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
