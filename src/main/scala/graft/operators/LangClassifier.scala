package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** fastText-grade language identification: a multi-class linear
  * classifier over hashed character-n-gram bag features — the model
  * family behind fastText's lid.176 that CCNet/C4 actually run at
  * corpus scale (Joulin et al. 2017, "Bag of Tricks for Efficient
  * Text Classification"; Wenzek et al. 2020 use it for lang-id).
  * Character n-grams, not word markers, are what discriminate
  * languages robustly — they see morphology and orthography where
  * [[TextOps.markerCount]]'s marker-word heuristic (kept as the
  * SQL-oracle-expressible gate) needs exact stopword hits.
  *
  * Architecture = [[QualityClassifier]] generalized to L classes:
  * packed per-doc features (zero-shuffle projection), one-vs-rest
  * logistic GD with ALL classes trained in one pass per iteration
  * (the gradient aggregate carries L sum columns over the same
  * exploded relation — map-side combined to ≤ B rows per task), the
  * L×B micro-quantized weight matrix held on the driver, deployment
  * as a pure argmax column expression with the weights inlined as
  * literals (zero join, streaming-safe). Bit-deterministic under any
  * partitioning for the same reasons as [[QualityClassifier]].
  */
object LangClassifier {

  /** Trained model: language labels (sorted) + per-language
    * micro-quantized weight rows. */
  final case class Model(langs: Seq[String], w: Array[Array[Long]])

  /** Hashed character-n-gram bucket ids of a text column — one per
    * n-gram instance, portable (md5 base hash) so reruns and engines
    * agree. Texts shorter than n yield no features. Native expression
    * (one digest per n-gram in a tight loop — this projection hashes
    * ~every character of the corpus); [[charNgramBucketsHof]] is the
    * semantic reference it is parity-tested against.
    */
  def charNgramBuckets(text: Column, n: Int, buckets: Int): Column =
    graft.expressions.TextExpressions.charNgramBuckets(text, n, buckets)

  /** Interpreted HOF reference formulation of [[charNgramBuckets]]. */
  private[graft] def charNgramBucketsHof(text: Column, n: Int, buckets: Int): Column =
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - (n - 1)),
        i => pmod(TextOps.baseHash(text.substr(i, lit(n))), lit(buckets.toLong))))
      .otherwise(array().cast("array<long>"))

  /** Packed feature relation: (doc_id, lang, bs) — one row per doc,
    * zero shuffle. `lang` is the supervision label column. */
  def features(docs: DataFrame, buckets: Int, n: Int = 3): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        charNgramBuckets(col("text"), n, buckets).as("bs"))
      .filter(size(col("bs")) > 0)

  /** One-vs-rest logistic GD over the packed relation; all classes
    * advance in one aggregate per iteration. `langs` must be the
    * label set in a fixed order (sort it for determinism).
    *
    * `samplePct` < 100 trains on a deterministic hash subsample of
    * the documents (same knob and rationale as
    * [[QualityClassifier.train]] — the playbook trains lang-id on a
    * labeled sample, never the whole corpus; each GD pass here
    * explodes ~one feature per CHARACTER, the most expensive
    * per-iteration relation of any model in the engine). Prediction
    * stays a full-corpus zero-join projection.
    */
  def train(packed: DataFrame, langs: Seq[String], buckets: Int,
            iters: Int, lr: Double, samplePct: Int = 100,
            driverMaxDocs: Long = DriverTrainMaxDocs): Model = {
    require(langs.nonEmpty && langs == langs.sorted, "langs must be sorted")
    val rel =
      if (samplePct >= 100) packed
      else packed.filter(Sampling.samplePredicate(col("doc_id"), samplePct, "lidtrain"))
    // bounded driver fast path (see QualityClassifier.train): one
    // collect, all iterations × classes advanced in a driver loop
    // with the distributed loop's exact arithmetic
    collectUnderBound(
        rel.select(col("lang"), col("bs")), driverMaxDocs) match {
      case Some(rows) => return trainDriver(rows, langs, buckets, iters, lr)
      case None =>
    }
    val nDocs = rel.count()
    val w = Array.fill(langs.size)(Array.fill(buckets)(0L))
    var it = 0
    while (it < iters) {
      val resids = langs.zipWithIndex.map { case (l, li) =>
        QualityClassifier.residExpr(col("bs"),
          (col("lang") === l).cast("int"), w(li)).as(s"r$li")
      }
      val grads = langs.indices.map(li => sum(col(s"r$li")).as(s"g$li"))
      val grad = rel
        .select(col("bs") +: resids: _*)
        .select(explode(col("bs")).as("b") +: langs.indices.map(li => col(s"r$li")): _*)
        .groupBy(col("b")).agg(grads.head, grads.tail: _*)
        .collect()
      grad.foreach { r =>
        val b = r.getLong(0).toInt
        langs.indices.foreach { li =>
          val g = r.getLong(1 + li) / 1e6 / nDocs
          w(li)(b) = w(li)(b) - math.round(lr * g * 1e6)
        }
      }
      it += 1
    }
    Model(langs, w)
  }

  /** Char-n-gram features run ~one per CHARACTER, so the driver
    * fast-path bound is tighter than the word-bigram trainer's:
    * 50k docs × ~500 int features ≈ 100 MB of driver state. */
  private val DriverTrainMaxDocs = 50000L

  /** All iterations × classes over collected (lang, bs) rows —
    * the one-vs-rest analog of [[QualityClassifier]]'s driver loop:
    * exact long margins per class, floor-quantized micro residuals,
    * exact long per-(class, bucket) gradient sums, identical double
    * updates. */
  private def trainDriver(rows: Array[org.apache.spark.sql.Row], langs: Seq[String],
                          buckets: Int, iters: Int, lr: Double): Model = {
    val n = rows.length
    val nDocs = n.toLong
    val nL = langs.size
    val langIdx = langs.zipWithIndex.toMap
    val labels = new Array[Int](n) // index into langs, or -1 if unseen
    val feats = new Array[Array[Int]](n)
    var i = 0
    while (i < n) {
      labels(i) = langIdx.getOrElse(rows(i).getString(0), -1)
      feats(i) = QualityClassifier.bucketArr(rows(i), 1)
      i += 1
    }
    val w = Array.fill(nL)(Array.fill(buckets)(0L))
    val g = Array.fill(nL)(new Array[Long](buckets))
    var it = 0
    while (it < iters) {
      var li = 0
      while (li < nL) { java.util.Arrays.fill(g(li), 0L); li += 1 }
      i = 0
      while (i < n) {
        val bs = feats(i)
        li = 0
        while (li < nL) {
          val wl = w(li)
          var m = 0L
          var j = 0
          while (j < bs.length) { m += wl(bs(j)); j += 1 }
          val label = if (labels(i) == li) 1 else 0
          val r = math.floor((1.0 / (1.0 + math.exp(-m / 1e6)) - label) * 1e6).toLong
          val gl = g(li)
          j = 0
          while (j < bs.length) { gl(bs(j)) += r; j += 1 }
          li += 1
        }
        i += 1
      }
      li = 0
      while (li < nL) {
        var b = 0
        while (b < buckets) {
          if (g(li)(b) != 0L) {
            val gd = g(li)(b) / 1e6 / nDocs
            w(li)(b) = w(li)(b) - math.round(lr * gd * 1e6)
          }
          b += 1
        }
        li += 1
      }
      it += 1
    }
    Model(langs, w)
  }

  private def bestStruct(bs: Column, m: Model): Column = {
    val scored = m.langs.zip(m.w).map { case (l, wl) =>
      struct(QualityClassifier.marginExpr(bs, wl).as("s"), lit(l).as("lang"))
    }
    // array_max orders structs by (score, lang): ties on the exact
    // integer score resolve to the lexicographically-last label —
    // deterministic across partitionings, reruns and engines
    array_max(array(scored: _*))
  }

  /** The model as a pure column expression over a packed `bs` row:
    * the argmax label over the L inlined margin sums. */
  def predictExpr(bs: Column, m: Model): Column = bestStruct(bs, m)("lang")

  /** The winning margin (micro-units) alongside the label. */
  def scoreExpr(bs: Column, m: Model): Column = bestStruct(bs, m)("s")

  /** Score every packed doc: (doc_id, n_feat, pred_lang, score_micro).
    * Zero join, zero shuffle — a projection with the model inlined. */
  def predict(packed: DataFrame, m: Model): DataFrame =
    packed.select(col("doc_id"),
      size(col("bs")).cast("long").as("n_feat"),
      predictExpr(col("bs"), m).as("pred_lang"),
      scoreExpr(col("bs"), m).as("score_micro"))
}
