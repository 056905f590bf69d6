package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Binning, GaussFit, WindowOps}
import graft.sources.{SpecIOMetrics, SpecIndex, SpecSchema}

/** The paper's own chain over a generated SPEC corpus: read → monitor
  * normalization → per-scan Gaussian fit → HKL grid → SPEC export. */
final class Spec(spark: SparkSession, tr: Tracer, in: Inputs) extends Family {
  private val peaks: Map[Long, (Double, Double)] =
    Json.elements(in.facts.get("peaks")).map { p =>
      p.get("scan").asLong -> (p.get("centre").asDouble, p.get("sigma").asDouble)
    }.toMap
  private val points = in.facts.get("points").asLong
  private val corpusBytes = in.facts.get("bytes").asLong

  /** A fitted centre counts as recovered within this many planted σ. */
  private val CentreTolerance = 0.25

  def opsPerPass: Long = peaks.size.toLong

  private def pointsOf(dir: Path): DataFrame = {
    def d(k: String) = element_at(col("data"), k)
    spark.read.format("spec").load(dir.toString)
      .withColumn("H", d("H")).withColumn("K", d("K")).withColumn("L", d("L"))
      .withColumn("th", d("th")).withColumn("mon", d("Monitor")).withColumn("det", d("Detector"))
  }

  private def normalize(pts: DataFrame): DataFrame =
    WindowOps.normalizeToMonitor(pts, col("scan"), col("det"), col("mon"))

  private def fit(normed: DataFrame) =
    GaussFit.fitGroups(normed, "scan", "th", "norm").select("g", "com", "converged").collect()

  private def grid(normed: DataFrame): DataFrame =
    Binning.grid3d(normed, col("H"), col("K"), col("L"), col("det"), 0.01, 0.01, 0.01)

  private def exportRows(normed: DataFrame): DataFrame =
    normed.withColumn("data", map_concat(col("data"), map(lit("norm"), col("norm"))))
      .select(SpecSchema.schema.fieldNames.map(col).toIndexedSeq: _*)

  /** Scans whose fitted centre misses the planted one, plus every scan
    * when the pass-level checks fail. */
  private def failures(fits: Array[org.apache.spark.sql.Row], gridN: Long): Long = {
    val byScan = fits.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val missed = peaks.count { case (scan, (c, s)) =>
      !byScan.get(scan).exists(com => math.abs(com - c) <= CentreTolerance * s)
    }
    if (gridN != points || fits.length != peaks.size) peaks.size.toLong else missed.toLong
  }

  def pass(dir: Path, kind: String): Long = tr.span(s"pass.$kind") {
    val out = dir.resolveSibling(dir.getFileName.toString + "_export")
    val normed = normalize(pointsOf(dir)).persist()
    try {
      val fits = tr.span("pass.fit")(fit(normed))
      val gridN = tr.span("pass.grid")(grid(normed).agg(sum("n")).head.getLong(0))
      Files2.delete(out)
      tr.span("pass.export")(exportRows(normed).write.format("spec").mode("append").save(out.toString))
      failures(fits, gridN)
    } finally normed.unpersist()
  }

  private def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val h = xxhash64(col("scan"), col("point"), col("command"), col("date"), col("count_time"),
      col("monitor"), col("geometry"), col("hkl"), sort_array(map_entries(col("motors"))),
      sort_array(map_entries(col("data"))), col("mca"))
    val r = df.select(h.as("h")).agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head
    (r.getLong(0), r.getDecimal(1))
  }

  /** The last pass's export reads back to the rows it was written from. */
  def verifyExport(dir: Path): Boolean = {
    val out = dir.resolveSibling(dir.getFileName.toString + "_export")
    digest(exportRows(normalize(pointsOf(dir)))) ==
      digest(spark.read.format("spec").load(out.toString))
  }

  def probes(): Map[String, Double] = {
    val dir = in.freshCopy("probe")
    val conf = spark.sessionState.newHadoopConf()
    val metas = SpecSchema.expand(Seq(dir.toString), conf)
    tr.span("sources.spec.index")(metas.foreach(SpecIndex.indexFile(_, conf)))
    metas.foreach(m => SpecIndex.writeSidecar(m, SpecIndex.indexFile(m, conf), conf))
    tr.span("sources.spec.sidecar")(metas.foreach(SpecIndex.indexWithCache(_, conf, true)))

    val raw = pointsOf(dir)
    val partitions = raw.rdd.getNumPartitions
    SpecIOMetrics.reset()
    tr.span("sources.spec.read")(raw.write.format("noop").mode("overwrite").save())
    val readBytes = SpecIOMetrics.bytesRead.sum.toDouble
    val hits = SpecIOMetrics.prefetchHits.sum.toDouble
    val waits = SpecIOMetrics.prefetchWaits.sum.toDouble

    val pts = raw.persist()
    pts.count()
    tr.span("operators.normalize")(normalize(pts).write.format("noop").mode("overwrite").save())
    val normed = normalize(pts).persist()
    normed.count()
    val fits = tr.span("operators.gauss_fit")(fit(normed))
    tr.span("operators.grid3d")(grid(normed).write.format("noop").mode("overwrite").save())
    val out = dir.resolveSibling("probe_export")
    tr.span("sources.spec.write")(
      exportRows(normed).write.format("spec").mode("append").save(out.toString))
    normed.unpersist()
    pts.unpersist()
    Map(
      "sources.spec.index_s" -> tr.seconds("sources.spec.index"),
      "sources.spec.sidecar_s" -> tr.seconds("sources.spec.sidecar"),
      "sources.spec.read_s" -> tr.seconds("sources.spec.read"),
      "sources.spec.partitions" -> partitions.toDouble,
      "sources.spec.read_amplification" -> readBytes / corpusBytes,
      "sources.spec.prefetch_hit_ratio" -> hits / (hits + waits),
      "sources.spec.write_s" -> tr.seconds("sources.spec.write"),
      "sources.spec.bytes_written" -> Files2.size(out).toDouble,
      "operators.normalize_s" -> tr.seconds("operators.normalize"),
      "operators.gauss_fit_s" -> tr.seconds("operators.gauss_fit"),
      "operators.fit_converged_frac" -> fits.count(_.getBoolean(2)).toDouble / fits.length,
      "operators.grid3d_s" -> tr.seconds("operators.grid3d"))
  }
}
