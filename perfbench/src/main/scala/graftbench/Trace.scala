package graftbench

import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine counters summed over the whole session by a listener the
  * benchmark registers; a span reads them at its start and end. */
final class SparkCounters extends SparkListener {
  val jobs, stages, singleTaskStages, tasks = new LongAdder
  val runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, resultBytes = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.increment()
    if (e.stageInfo.numTasks == 1) singleTaskStages.increment()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      resultBytes.add(m.resultSize)
    }
  }

  def snapshot(): Map[String, Double] = Map(
    "spark.jobs" -> jobs.sum.toDouble,
    "spark.stages" -> stages.sum.toDouble,
    "spark.single_task_stages" -> singleTaskStages.sum.toDouble,
    "spark.tasks" -> tasks.sum.toDouble,
    "spark.task_run_s" -> runMs.sum / 1e3,
    "spark.task_cpu_s" -> cpuNs.sum / 1e9,
    "spark.gc_s" -> gcMs.sum / 1e3,
    "spark.shuffle_read_mb" -> shuffleRead.sum / 1e6,
    "spark.shuffle_write_mb" -> shuffleWrite.sum / 1e6,
    "spark.spill_mb" -> spill.sum / 1e6,
    "spark.driver_result_mb" -> resultBytes.sum / 1e6)
}

/** Micro-batch progress of every streaming query in the session. */
final class StreamCounters extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.synchronized { progress += e.progress }
  def all: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.synchronized(progress.toList)
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      counters: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer. Until
  * [[enable]] (and always in the end-to-end runs) a span only runs its
  * body; enabled, it registers the listeners and records counter deltas
  * at every span boundary. Spans stay in memory until [[write]]. */
final class Tracer(spark: SparkSession, runId: String) {
  val counters = new SparkCounters
  val streams = new StreamCounters
  private var on = false

  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(counters)
    spark.streams.addListener(streams)
    on = true
  }
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 0

  private def read(): Map[String, Double] = {
    ListenerBusDrain(spark.sparkContext)
    counters.snapshot()
  }

  /** Runs `body` inside span `name`. */
  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val before = read()
    val t0 = System.nanoTime()
    val out = try body finally stack.pop()
    val t1 = System.nanoTime()
    val after = read()
    val delta = after.map { case (k, v) => k -> (v - before(k)) }
    spans += Span(id, parent, name, t0, t1, delta)
    out
  }

  /** Sum of the durations of every span called `name`. */
  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** Like [[seconds]], counting only spans inside `outer`. */
  def secondsWithin(name: String, outer: Span): Double =
    spans.filter(s => s.name == name && s.startNs >= outer.startNs && s.endNs <= outer.endNs)
      .map(_.seconds).sum

  def last(name: String): Span = spans.filter(_.name == name).last

  def write(path: String): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(Json.obj(Seq(
        "run" -> runId, "span" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "counters" -> s.counters))).append('\n')
    }
    streams.all.foreach(p => sb.append(Json.obj(Seq("run" -> runId, "progress" -> Json.Raw(p.json)))).append('\n'))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
