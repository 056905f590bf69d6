package graftbench

import java.nio.file.Path
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{SharedRelations, SparkEntry}

/** A fixed mix of gates from `SparkEntry.queries` over generated
  * star-schema, text and embedding tables. */
final class Gates(spark: SparkSession, tr: Tracer, in: Inputs) extends Family {
  private val queries = SparkEntry.queries
  private val gates: Seq[(String, (SparkSession, String) => DataFrame)] =
    Gates.Mix.map(n => n -> queries.getOrElse(n, sys.error(s"unknown gate $n")))

  /** Per-gate wall-clock of the warm passes: the closed loop's
    * operation latencies. */
  val gateSeconds = mutable.ArrayBuffer[Double]()

  def opsPerPass: Long = gates.size.toLong

  private def dropCached(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  /** One gate as the legacy sweep runs it: build the DataFrame (eager
    * driver collects and first-touch snapshots happen here), plan it,
    * then execute into the `noop` sink. */
  private def runGate(name: String, fn: (SparkSession, String) => DataFrame, dir: Path): Unit = {
    val df = tr.span("queries.build")(fn(spark, dir.toString))
    tr.span("queries.plan")(df.queryExecution.executedPlan)
    tr.span("queries.exec")(df.write.format("noop").mode("overwrite").save())
  }

  def pass(dir: Path, kind: String): Long = tr.span(s"pass.$kind") {
    gates.count { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try { tr.span(s"gate.$name")(runGate(name, fn, dir)); true }
        catch { case e: Exception =>
          System.err.println(s"[gate_mix] $name failed: $e")
          false
        }
      if (kind == "warm") gateSeconds += (System.nanoTime() - t0) / 1e9
      dropCached()
      !ok
    }.toLong
  }

  /** Order-insensitive digest of a result: columns by name, rows
    * rendered and sorted. */
  private def digest(df: DataFrame): String = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(df.col).toIndexedSeq: _*).collect()
      .map((r: Row) => r.toSeq.map(String.valueOf).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Runs every gate over these inputs and returns name → digest
    * (gates that throw map to their exception). */
  def digests(dir: Path): Map[String, String] = gates.map { case (name, fn) =>
    val d = try digest(fn(spark, dir.toString)) catch { case e: Exception => s"error: $e" }
    dropCached()
    name -> d
  }.toMap

  def probes(): Map[String, Double] = {
    val dir = in.freshCopy("probe")
    val failed = tr.span("queries.cold")(pass(dir, "traced"))
    val cold = tr.last("queries.cold")
    val fresh = in.freshCopy("shared").toString
    def builders(): Unit = Gates.Shared.foreach(b => b(spark, fresh))
    tr.span("shared.build")(builders())
    tr.span("shared.reuse")(builders())
    require(failed == 0, s"$failed gates failed in the traced pass")
    Map(
      "queries.build_s" -> tr.secondsWithin("queries.build", cold),
      "queries.plan_s" -> tr.secondsWithin("queries.plan", cold),
      "queries.exec_s" -> tr.secondsWithin("queries.exec", cold),
      "shared.build_s" -> tr.seconds("shared.build"),
      "shared.reuse_s" -> tr.seconds("shared.reuse"))
  }
}

object Gates {
  /** One or two gates per family: dedup, retrieval/ANN, LM/text,
    * graph, sketch, the job-floor gates and a gate with bounded driver
    * collects. Each gate costs 3-22 Spark jobs, so the full 396-gate
    * sweep (or even 30 gates) would not fit a run. */
  val Mix: Seq[String] = Seq(
    "q_minhash_pairs", "q_bm25", "q_knn_ivf", "q_lm_bigram", "q_tfidf_terms",
    "q_pagerank", "q_heavy_hitters", "q01_pricing_summary", "q_rfm", "q_levene")

  /** The public session snapshots the mix's gates read. */
  val Shared: Seq[(SparkSession, String) => Any] = Seq(
    SharedRelations.custSuppPairs, SharedRelations.tradeGraph, SharedRelations.docTokens,
    SharedRelations.docLenStats, SharedRelations.enUnigramCounts,
    SharedRelations.enBigramCounts, SharedRelations.enBigramW1, SharedRelations.enBigramW2,
    SharedRelations.allBigramCounts)
}
