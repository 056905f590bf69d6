package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** A closed-loop input family: one pass runs its whole chain over a
  * directory and returns the number of operations that failed. */
trait Family {
  def opsPerPass: Long
  def pass(dir: Path, kind: String): Long
  def probes(): Map[String, Double]
}

/** One generated input: `root/data` plus the generator's `facts.json`.
  * Passes run on copies, so a copy without sidecars or snapshots is
  * cold for every cache graft keeps. */
final class Inputs(val root: Path) {
  val data: Path = root.resolve("data")
  val facts: JsonNode = Json.read(root.resolve("facts.json").toString)
  private var copies = 0
  def freshCopy(tag: String): Path = {
    copies += 1
    val p = root.resolve(s"$tag$copies")
    Files2.copyTree(data, p)
    p
  }
}

/** Runs one workload in this JVM and writes its result as JSON.
  *
  * Arguments: the workload's input family (spec, ccd, tables or tail),
  * the work dir holding the generated inputs, run
  * seconds, trace flag, cores, the launch time in epoch nanoseconds,
  * the gate reference-digest file, whether to record it instead of
  * checking it, and the result path. */
object Main {
  private val WarmPerCold = 3

  def main(args: Array[String]): Unit = {
    val Array(family, work, secondsArg, traceArg, cpus, launchNs, reference, record, out) = args
    val seconds = secondsArg.toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.streaming.checkpointLocation", Paths.get(work, "checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(spark, Paths.get(work).getFileName.toString)
    val result =
      try new Main(spark, tr, family, Paths.get(work), seconds, traceArg == "1", launchNs.toLong,
        Paths.get(reference), record == "1").run()
      catch { case e: Throwable =>
        e.printStackTrace()
        Map("error" -> e.toString)
      }
    Files.writeString(Paths.get(out), Json.value(result))
    if (traceArg == "1") tr.write(Paths.get(work, "trace.jsonl").toString)
    spark.stop()
  }

}

final class Main(spark: SparkSession, tr: Tracer, family: String, work: Path, seconds: Double,
                 trace: Boolean, launchNs: Long, reference: Path, record: Boolean) {
  private var attempted = 0L
  private var failed = 0L
  private val notes = mutable.LinkedHashMap[String, Any]()

  private def inputs(fam: String, size: String) = new Inputs(work.resolve(fam).resolve(size))

  private def closed(fam: String, in: Inputs): Family = fam match {
    case "spec" => new Spec(spark, tr, in)
    case "ccd" => new Ccd(spark, tr, in)
    case "tables" => new Gates(spark, tr, in)
  }

  private def count(ops: Long, bad: Long): Unit = { attempted += ops; failed += bad }

  private def time[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = body
    ((System.nanoTime() - t0) / 1e9, v)
  }

  /** Set-up after the session is up: warm the JIT on a separate input
    * (seed 0, the full size) with one cycle of the measured loop — for
    * the tail two cold and warm bursts; the gates run once over the
    * small tables and check their reference digests. */
  private def warmUp(): Unit = family match {
    case "tables" =>
      val in = inputs("tables", "small")
      checkReference(new Gates(spark, tr, in).digests(in.freshCopy("warmup")))
    case "tail" =>
      val t = new Tail(spark, tr, inputs("tail", "warmup"))
      val burst = tailFacts("warmup", "burst")
      (1 to 2).foreach { _ =>
        val (_, b1) = t.coldPass(burst, 60)
        val (_, b2) = t.warmPass(burst, 60)
        count(b1.size + b2.size, t.failures(b1 ++ b2))
      }
      t.stop()
    case fam =>
      val in = inputs(fam, "warmup")
      val f = closed(fam, in)
      val dir = in.freshCopy("warmup")
      ("cold" +: Seq.fill(Main.WarmPerCold)("warm")).foreach(k => count(f.opsPerPass, f.pass(dir, k)))
  }

  private def tailFacts(size: String, k: String): Int =
    inputs("tail", size).facts.get(k).asInt

  /** Compares the small-input gate digests with the ones recorded from
    * the reference commit; `record` rewrites that file instead. */
  private def checkReference(got: Map[String, String]): Unit = {
    if (record) {
      Files.writeString(reference, Json.obj(got.toSeq.sortBy(_._1)) + "\n")
      notes("reference") = s"recorded ${got.size} digests"
    }
    require(Files.exists(reference), s"no reference digests at $reference")
    val want = Json.read(reference.toString)
    val bad = got.toSeq.sortBy(_._1).filter { case (n, d) =>
      val w = want.get(n)
      w == null || w.asText != d
    }
    if (bad.nonEmpty) notes("reference_mismatch") = bad.map(_._1)
    count(got.size, bad.size)
  }

  private def rssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }

  private def sinceLaunch(): Double = {
    val now = java.time.Instant.now()
    (now.getEpochSecond * 1e9 + now.getNano - launchNs) / 1e9
  }

  def run(): Map[String, Any] = {
    notes("session_up_s") = sinceLaunch()
    warmUp()
    val setupS = sinceLaunch()
    val metrics: Map[String, Double] =
      if (trace) traced()
      else {
        val (cold, warm, lags) = measure()
        val (tailQ, tail) = Stats.tailQuantile(lags)
        notes("tail_lag_quantile") = tailQ
        notes("tail_lag_samples") = lags.size
        notes("passes") = Map("cold" -> cold, "warm" -> warm)
        Map(
          "setup_s" -> setupS,
          "cold_pass_s" -> Stats.median(cold),
          "warm_pass_s" -> Stats.median(warm),
          "tail_lag_p50_s" -> Stats.median(lags),
          "tail_lag_p99_s" -> tail,
          "peak_rss_mb" -> rssMb())
      }
    Map("attempted" -> attempted, "failed" -> failed, "metrics" -> metrics,
      "notes" -> notes.toMap)
  }

  /** The untraced measurement: cold and warm pass times and the
    * per-operation lags. */
  private def measure(): (Seq[Double], Seq[Double], Seq[Double]) = {
    val cold, warm, lags = mutable.ArrayBuffer[Double]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    family match {
      case "tail" =>
        val t = new Tail(spark, tr, inputs("tail", "full"))
        val burst = tailFacts("full", "burst")
        (1 to tailFacts("full", "cycles")).foreach { _ =>
          val (c, b1) = t.coldPass(burst, 60)
          val (w, b2) = t.warmPass(burst, 60)
          cold += c
          warm += w
          count(b1.size + b2.size, t.failures(b1 ++ b2))
        }
        val rate = inputs("tail", "full").facts.get("rate").asDouble
        val n = inputs("tail", "full").facts.get("open_loop_scans").asInt
        val (l, late, batch) = t.openLoop(n, rate, 60)
        lags ++= l
        count(batch.size, t.failures(batch))
        // a lag that grows from the first to the last quarter means the
        // rate is above what the query sustains
        val q = math.max(1, l.size / 4)
        notes("open_loop") = Map("rate_per_s" -> rate, "scans" -> n,
          "lag_limit_s" -> Tail.LagLimitS, "within_limit" -> (Stats.tailQuantile(l)._2 <= Tail.LagLimitS),
          "appender_late_p50_s" -> Stats.median(late), "appender_late_max_s" -> late.max,
          "lag_p50_first_quarter_s" -> Stats.median(l.take(q)),
          "lag_p50_last_quarter_s" -> Stats.median(l.takeRight(q)))
        if (t.failedSamples.nonEmpty) notes("failed_appends") = t.failedSamples.toList
        t.stop()
      case fam =>
        val in = inputs(fam, "full")
        val f = closed(fam, in)
        // cold, then WarmPerCold warm passes on the same copy, repeated
        // until the run's time is up, ending with at least one of each
        var dir: Path = null
        var k = 0
        while (warm.isEmpty || System.nanoTime() < deadline) {
          val kind = if (k % (Main.WarmPerCold + 1) == 0) "cold" else "warm"
          if (kind == "cold") {
            if (dir != null) dropCopy(dir)
            dir = in.freshCopy("cold")
          }
          val (t, bad) = time(f.pass(dir, kind))
          count(f.opsPerPass, bad)
          if (kind == "cold") cold += t
          else {
            warm += t
            if (fam != "tables") lags ++= Seq.fill(f.opsPerPass.toInt)(t)
          }
          k += 1
        }
        val prev = dir
        f match {
          case g: Gates => lags ++= g.gateSeconds
          case s: Spec => if (!s.verifyExport(prev)) { notes("export_roundtrip") = false; failed += 1 }
          case _ => ()
        }
    }
    (cold.toSeq, warm.toSeq, lags.toSeq)
  }

  private def dropCopy(p: Path): Unit = {
    Files2.delete(p)
    Files2.delete(p.resolveSibling(p.getFileName.toString + "_export"))
  }

  /** The traced run: the workload's own layers on its full input, every
    * other layer on the small inputs, and the engine counters of one
    * traced cold pass. */
  private def traced(): Map[String, Double] = {
    val own: Map[String, Double] = family match {
      case "tail" => tailProbes("full")
      case fam =>
        val in = inputs(fam, "full")
        val f = closed(fam, in)
        val a = in.freshCopy("untraced")
        count(f.opsPerPass, f.pass(a, "cold"))
        val (off, badOff) = time(f.pass(a, "warm"))
        tr.enable()
        val b = in.freshCopy("traced")
        count(f.opsPerPass, f.pass(b, "cold"))
        val coldSpan = tr.last("pass.cold")
        val (on, badOn) = time(f.pass(b, "warm"))
        count(2 * f.opsPerPass, badOff + badOn)
        notes("trace_overhead_s") = on - off
        notes("untraced_warm_pass_s") = off
        sparkOf(coldSpan) ++ f.probes()
    }
    val others = Seq("spec", "ccd", "tables", "tail").filterNot(_ == family).map {
      case "tail" => tailProbes("small")
      case "tables" =>
        // the gates' own set-up: JIT warm-up plus the reference check
        val in = inputs("tables", "small")
        val g = new Gates(spark, tr, in)
        checkReference(g.digests(in.freshCopy("warmup")))
        g.probes()
      case fam => closed(fam, inputs(fam, "small")).probes()
    }
    others.foldLeft(Map.empty[String, Double])(_ ++ _) ++ own
  }

  private def sparkOf(s: Span): Map[String, Double] = {
    val cores = spark.sparkContext.defaultParallelism
    (s.counters - "spark.task_run_s" - "spark.spill_mb") +
      ("spark.core_utilization" -> s.counters("spark.task_run_s") / (s.seconds * cores))
  }

  /** The tail's traced run: a cold and a warm burst, then (for the
    * workload's own input) a traced warm burst for the overhead, and the
    * open loop with the streaming and engine counters. */
  private def tailProbes(size: String): Map[String, Double] = {
    val t = new Tail(spark, tr, inputs("tail", size))
    val facts = inputs("tail", size).facts
    val burst = facts.get("burst").asInt
    val (_, b1) = t.coldPass(burst, 60)
    val (off, b2) = t.warmPass(burst, 60)
    val own = size == "full"
    val traced = if (own) {
      tr.enable()
      val (on, b) = t.warmPass(burst, 60)
      notes("trace_overhead_s") = on - off
      notes("untraced_warm_pass_s") = off
      b
    } else Seq.empty
    val n = if (own) facts.get("open_loop_scans").asInt else burst
    val (_, _, b3) = tr.span("stream.open_loop")(t.openLoop(n, facts.get("rate").asDouble, 60))
    t.stop()
    val all = b1 ++ b2 ++ traced ++ b3
    count(all.size, t.failures(all))
    val s = t.streamingMetrics()
    if (own) s ++ sparkOf(tr.last("stream.open_loop")) else s
  }
}
