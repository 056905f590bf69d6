package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON writer for the result and trace files. */
object Json {
  final case class Raw(text: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def read(path: String): JsonNode = new ObjectMapper().readTree(new java.io.File(path))

  def elements(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile, up to p99, with at least ten samples
    * beyond it; the sample maximum when there are fewer than eleven. */
  def tailQuantile(xs: Seq[Double]): (Double, Double) = {
    val q = if (xs.length < 11) 1.0 else math.min(0.99, 1.0 - 10.0 / xs.length)
    (q, quantile(xs, q))
  }
}

object Files2 {
  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  def delete(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)

  def size(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}
