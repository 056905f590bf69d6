package graftbench

import java.nio.file.Path
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Binning
import graft.sources.{EdfSchema, SpecSchema}

/** Detector stacks: EDF + TIFF read → broadcast dark-frame subtract →
  * per-frame radial profile, checked ring by ring against the closed
  * form the generator computed. */
final class Ccd(spark: SparkSession, tr: Tracer, in: Inputs) extends Family {
  private val cx = in.facts.get("cx").asInt
  private val cy = in.facts.get("cy").asInt
  private val expected: Map[String, Array[Long]] = {
    val rs = in.facts.get("ring_sums")
    rs.fieldNames().asScala.map(k => k -> Json.elements(rs.get(k)).map(_.asLong).toArray).toMap
  }
  private val dark: Array[Double] = {
    val d = Json.read(in.data.resolve("dark.json").toString)
    Json.elements(d.get("pixels")).map(_.asDouble).toArray
  }

  def opsPerPass: Long = expected.size.toLong

  private def frames(dir: Path): DataFrame = {
    def load(fmt: String) = spark.read.format(fmt).load(dir.resolve(fmt).toString)
    load("edf").unionByName(load("tiff")).select(
      concat(element_at(split(col("file"), "/"), -1), lit("#"), col("frame")).as("id"),
      col("width"), col("pixels"))
  }

  private def subtract(fr: DataFrame): DataFrame = {
    import spark.implicits._
    val darkDf = Seq(dark).toDF("dark")
    fr.crossJoin(broadcast(darkDf)).select(col("id"), col("width"),
      zip_with(col("pixels"), col("dark"), (p, d) => p - d).as("pixels"))
  }

  private def profile(sub: DataFrame): DataFrame =
    Binning.radialProfile(sub, col("id"), col("width"), col("pixels"), cx, cy)

  /** Frames whose ring sums differ from the closed form. */
  private def failures(rows: Array[org.apache.spark.sql.Row]): Long = {
    val got = rows.groupBy(_.getString(0)).map { case (id, rs) =>
      id -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap
    }
    expected.count { case (id, sums) =>
      !got.get(id).exists(g => g.size == sums.length &&
        sums.indices.forall(r => g.get(r.toLong).contains(sums(r))))
    }.toLong
  }

  def pass(dir: Path, kind: String): Long = tr.span(s"pass.$kind") {
    failures(profile(subtract(frames(dir))).select("id", "rbin", "v_sum").collect())
  }

  def probes(): Map[String, Double] = {
    val dir = in.freshCopy("probe")
    val conf = spark.sessionState.newHadoopConf()
    val edfFiles = SpecSchema.expand(Seq(dir.resolve("edf").toString), conf)
    tr.span("sources.edf.index")(edfFiles.foreach(m => EdfSchema.indexFile(m.path, conf)))
    val edf = spark.read.format("edf").load(dir.resolve("edf").toString)
    val partitions = edf.rdd.getNumPartitions
    tr.span("sources.edf.read")(edf.write.format("noop").mode("overwrite").save())
    tr.span("sources.tiff.read")(spark.read.format("tiff").load(dir.resolve("tiff").toString)
      .write.format("noop").mode("overwrite").save())
    val fr = frames(dir).persist()
    fr.count()
    tr.span("operators.dark_subtract")(subtract(fr).write.format("noop").mode("overwrite").save())
    val sub = subtract(fr).persist()
    sub.count()
    tr.span("operators.radial_profile")(profile(sub).write.format("noop").mode("overwrite").save())
    sub.unpersist()
    fr.unpersist()
    Map(
      "sources.edf.index_s" -> tr.seconds("sources.edf.index"),
      "sources.edf.read_s" -> tr.seconds("sources.edf.read"),
      "sources.tiff.read_s" -> tr.seconds("sources.tiff.read"),
      "sources.edf.partitions" -> partitions.toDouble,
      "operators.dark_subtract_s" -> tr.seconds("operators.dark_subtract"),
      "operators.radial_profile_s" -> tr.seconds("operators.radial_profile"))
  }
}
