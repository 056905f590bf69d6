package graftbench

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The SPEC source read incrementally: scans are appended to live files
  * while `readStream.format("spec")` feeds the LIVE per-scan peak query
  * (point count and background-corrected centre of mass per scan). */
final class Tail(spark: SparkSession, tr: Tracer, in: Inputs) {
  import Tail.Append

  private val appends: IndexedSeq[Append] = Json.elements(in.facts.get("appends")).map { a =>
    Append(a.get("file").asInt, a.get("offset").asInt, a.get("length").asInt,
      a.get("scan").asLong, a.get("points").asLong, a.get("com").asDouble)
  }.toIndexedSeq
  private val nFiles = in.facts.get("files").asInt
  private val payload = Files.readAllBytes(in.root.resolve("tail_payload.bin"))

  /** Ends every file's last scan: the source releases a scan once the
    * next `#S` header appears, and this header-only block has no rows. */
  private val Closer = "#S 999999 close\n".getBytes("UTF-8")

  private var next = 0
  private var dir: Path = _
  private var query: StreamingQuery = _
  private var queryNo = 0
  /** (file index, scan) → sink arrival (System.nanoTime) and the row. */
  private val arrived = new ConcurrentHashMap[(Int, Long), (Long, Long, Double)]()
  private val duplicates = new java.util.concurrent.atomic.AtomicLong

  private def live(dir: Path): DataFrame =
    spark.readStream.format("spec").load(dir.toString)
      .select(col("file"), col("scan"),
        element_at(col("data"), "th").as("x"), element_at(col("data"), "Detector").as("w"))
      .groupBy(col("file"), col("scan"))
      .agg(count(lit(1)).as("n"), min(col("w")).as("floor"),
        sum(col("x") * col("w")).as("sxw"), sum(col("w")).as("sw"), sum(col("x")).as("sx"))
      .select(col("file"), col("scan"), col("n"),
        ((col("sxw") - col("floor") * col("sx")) / (col("sw") - col("floor") * col("n"))).as("com"))

  /** Starts a fresh query (new checkpoint) on the current live files. */
  private def startQuery(): Unit = {
    val ckpt = dir.resolveSibling(dir.getFileName.toString + "_ckpt")
    query = live(dir).writeStream.outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.collect()
        val now = System.nanoTime()
        rows.foreach { r =>
          val f = r.getString(0)
          val idx = f.substring(f.lastIndexOf("live_") + 5, f.lastIndexOf(".spec")).toInt
          if (arrived.putIfAbsent((idx, r.getLong(1)), (now, r.getLong(2), r.getDouble(3))) != null)
            duplicates.incrementAndGet()
        }
      }.start()
  }

  def stop(): Unit = if (query != null) { query.stop(); query = null }

  private val channels = mutable.Map[Path, FileChannel]()
  private def write(file: Int, bytes: ByteBuffer): Unit = {
    val p = dir.resolve(f"live_$file%02d.spec")
    val ch = channels.getOrElseUpdate(p,
      FileChannel.open(p, StandardOpenOption.WRITE, StandardOpenOption.APPEND))
    while (bytes.hasRemaining) ch.write(bytes)
  }
  private def appendScan(a: Append): Unit = write(a.file, ByteBuffer.wrap(payload, a.offset, a.length))
  private def closeFiles(): Unit = {
    (0 until nFiles).foreach(f => write(f, ByteBuffer.wrap(Closer)))
    channels.values.foreach(_.close())
    channels.clear()
  }

  private def key(a: Append) = (a.file, a.scan)

  /** Waits until every append in `batch` reached the sink, or the
    * timeout passes. */
  private def await(batch: Seq[Append], timeoutS: Double): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (batch.exists(a => !arrived.containsKey(key(a))) && System.nanoTime() < deadline) {
      if (query.exception.isDefined) throw query.exception.get
      Thread.sleep(2)
    }
  }

  /** The first failed appends, for the run's notes. */
  val failedSamples = mutable.ArrayBuffer[String]()

  /** Appends with no row, a wrong point count, or a centre of mass that
    * differs from the one computed from the appended block beyond
    * floating-point summation order. */
  def failures(batch: Seq[Append]): Long = batch.count { a =>
    val got = arrived.get(key(a))
    val bad = got == null || got._2 != a.points ||
      !(math.abs(got._3 - a.com) <= 1e-9 * math.max(1.0, math.abs(a.com)))
    if (bad && failedSamples.size < 5)
      failedSamples += s"file ${a.file} scan ${a.scan}: ${a.points} points, centre ${a.com}; got " +
        Option(got).map(g => s"${g._2} points, centre ${g._3}").getOrElse("no row")
    bad
  }.toLong + duplicates.getAndSet(0)

  private def take(n: Int): IndexedSeq[Append] = {
    require(next + n <= appends.length, "tail payload exhausted")
    val b = appends.slice(next, next + n)
    next += n
    b
  }

  /** Cold pass: the next `n` scans are on disk in new live files
    * before a new query starts; timed until all are at the sink, so it
    * includes the query's start-up and first offset discovery. */
  def coldPass(n: Int, timeoutS: Double): (Double, Seq[Append]) = {
    val batch = take(n)
    stop()
    queryNo += 1
    dir = in.root.resolve(s"live$queryNo")
    Files2.copyTree(in.data, dir)
    batch.foreach(appendScan)
    closeFiles()
    val t0 = System.nanoTime()
    startQuery()
    await(batch, timeoutS)
    ((System.nanoTime() - t0) / 1e9, batch)
  }

  /** Warm pass: the running query takes a burst of `n` scans appended
    * at once. */
  def warmPass(n: Int, timeoutS: Double): (Double, Seq[Append]) = {
    val batch = take(n)
    val t0 = System.nanoTime()
    batch.foreach(appendScan)
    closeFiles()
    await(batch, timeoutS)
    ((System.nanoTime() - t0) / 1e9, batch)
  }

  /** Open loop: appends `n` scans at `rate` per second on a schedule
    * that does not wait for the query. Returns each scan's lag from its
    * scheduled append time to its row reaching the sink, and how late
    * the appender ran. */
  def openLoop(n: Int, rate: Double, drainS: Double): (Seq[Double], Seq[Double], Seq[Append]) = {
    val batch = take(n)
    val lateness = new Array[Double](n)
    val scheduled = new Array[Long](n)
    val t0 = System.nanoTime() + 50_000_000L
    val appender = new Thread(() => {
      batch.indices.foreach { i =>
        scheduled(i) = t0 + (i * 1e9 / rate).toLong
        val wait = scheduled(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        lateness(i) = math.max(0L, System.nanoTime() - scheduled(i)) / 1e9
        appendScan(batch(i))
      }
      closeFiles()
    }, "bench-tail-appender")
    appender.start()
    appender.join()
    await(batch, drainS)
    val lags = batch.indices.flatMap { i =>
      Option(arrived.get(key(batch(i)))).map(g => (g._1 - scheduled(i)) / 1e9)
    }
    (lags, lateness.toSeq, batch)
  }

  def streamingMetrics(): Map[String, Double] = {
    val ps = tr.streams.all.filter(_.numInputRows > 0)
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / 1e3
    Map(
      "streaming.batches" -> ps.length.toDouble,
      "streaming.trigger_s" -> dur("triggerExecution"),
      "streaming.latest_offset_s" -> dur("latestOffset"),
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.rows_per_batch" -> ps.map(_.numInputRows.toDouble).sum / ps.length,
      "streaming.state_rows" -> ps.flatMap(_.stateOperators.map(_.numRowsTotal.toDouble)).maxOption.getOrElse(0.0))
  }
}

object Tail {
  /** The open loop's rate is chosen so that its p99 lag stays under
    * this limit on a 4-core machine. */
  val LagLimitS = 2.0

  final case class Append(file: Int, offset: Int, length: Int, scan: Long,
                          points: Long, com: Double)
}
