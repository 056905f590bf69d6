package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expressions.VectorExpressions

/** IVF (inverted-file) approximate nearest neighbour — the classic
  * coarse-quantizer scale path for ANN alongside LSH: cluster the
  * corpus into C cells with k-means, search only the `nprobe`
  * nearest cells per query.
  *
  * Determinism (required by the rows-only gate): everything runs in
  * exact integer arithmetic over the fixed-point vectors — seeds are
  * the C smallest vec_ids, assignment distance is the exact integer
  * `‖x‖² + ‖c‖² − 2·x·c`, argmin ties break by cell id, and centroid
  * updates use floored integer element means — so every iteration is
  * reproducible on any cluster layout.
  *
  * Scale: the model (C·dims longs) is DRIVER state, exactly as in
  * MLlib's KMeans — the corpus never shuffles. Each training
  * iteration is one map-side-combined hash aggregate (cell → count +
  * elementwise sums) collecting C rows to the driver; assignment is a
  * zero-shuffle per-row expression; a query probes `nprobe` cells and
  * meets the corpus through one broadcast hash join on cell id.
  */
object IvfIndex {

  /** Driver fast-path bound for [[train]]: up to this many vectors
    * collect ONCE and every Lloyd iteration runs in a driver loop —
    * one Spark job instead of one per iteration plus the seed sort
    * (the QualityClassifier.train discipline; at bench scale the
    * iteration jobs' scheduling floors ARE the gate cost). 200k × 64
    * long components ≈ 110 MB of driver state. Past the bound, the
    * per-iteration aggregate loop runs unchanged — the 100 TB shape
    * (the corpus never shuffles; C rows per iteration cross to the
    * driver). */
  private val DriverTrainMaxVectors = 200000L

  /** Deterministic k-means over (vec_id, q, n) rows.
    * @return centroid matrix, indexed by cell id.
    */
  def train(e: DataFrame, c: Int, iters: Int, dims: Int,
            driverMaxVectors: Long = DriverTrainMaxVectors): Array[Array[Long]] = {
    collectUnderBound(
        e.select(col("vec_id"), col("q")), driverMaxVectors) match {
      case Some(rows) => return trainDriver(rows, c, iters, dims)
      case None =>
    }
    // Seeds: the C smallest vec_ids (deterministic, cheap).
    var cents: Array[Array[Long]] = e.orderBy(col("vec_id")).limit(c)
      .select(col("q")).collect()
      .map(_.getSeq[Long](0).toArray)
    var it = 0
    while (it < iters) {
      cents = lloydStep(e, cents, dims)
      it += 1
    }
    cents
  }

  /** All Lloyd iterations over collected (vec_id, q) rows — the
    * distributed loop's exact arithmetic on primitive arrays: the
    * same long-wrap distance/argmin as NearestCellsExpr (strict <,
    * first min wins), exact long element sums, floored integer
    * means, empty cells keeping their position. Parity is pinned in
    * IvfIndexSpec. */
  private def trainDriver(rows: Array[org.apache.spark.sql.Row], c: Int,
                          iters: Int, dims: Int): Array[Array[Long]] = {
    val sorted = rows.sortBy(_.getLong(0))
    val vecs = sorted.map(r => QualityClassifier.bucketLongArr(r, 1))
    var cents = vecs.take(c).map(_.clone())
    var it = 0
    while (it < iters) {
      val n = cents.length
      val norms = cents.map(ct => ct.map(x => x * x).sum)
      val cnt = new Array[Long](n)
      val sums = Array.fill(n)(new Array[Long](dims))
      vecs.foreach { q =>
        var best = -1
        var bestD = 0L
        var cc = 0
        while (cc < n) {
          val cent = cents(cc)
          val m = math.min(cent.length, q.length)
          var dot = 0L
          var i = 0
          while (i < m) { dot += q(i) * cent(i); i += 1 }
          val d = norms(cc) - 2L * dot
          if (best < 0 || d < bestD) { best = cc; bestD = d }
          cc += 1
        }
        cnt(best) += 1
        val s = sums(best)
        var i = 0
        while (i < dims) { s(i) += q(i); i += 1 }
      }
      val next = cents.map(_.clone())
      var cc = 0
      while (cc < n) {
        if (cnt(cc) > 0) {
          var i = 0
          while (i < dims) { next(cc)(i) = Math.floorDiv(sums(cc)(i), cnt(cc)); i += 1 }
        }
        cc += 1
      }
      cents = next
      it += 1
    }
    cents
  }

  /** One Lloyd update: one shuffle (cell → count + elementwise integer
    * sums), C rows back to the driver, floored-integer means computed
    * exactly. Empty cells keep their position.
    */
  private def lloydStep(e: DataFrame, cents: Array[Array[Long]],
                        dims: Int): Array[Array[Long]] = {
    val sumCols = (0 until dims).map(i => sum(col(s"_x$i")).as(s"_s$i"))
    val stats = e.select(
        VectorExpressions.nearestCell(col("q"), cents).as("cell") +:
          (0 until dims).map(i => element_at(col("q"), i + 1).as(s"_x$i")): _*)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"), sumCols: _*)
      .collect()
    val next = cents.map(_.clone())
    stats.foreach { r =>
      val cell = r.getLong(0).toInt
      val cnt = r.getLong(1)
      var i = 0
      while (i < dims) { next(cell)(i) = Math.floorDiv(r.getLong(2 + i), cnt); i += 1 }
    }
    next
  }

  /** Skew-aware re-balancing: split every cell holding more than
    * `maxCellFrac` of the corpus until none does (or the round budget
    * runs out). An IVF probe reads whole cells, so one skewed cell —
    * the normal outcome of k-means on clustered real-world embeddings
    * — makes every query touching it pay a near-full scan; bounding
    * the largest cell bounds the worst-case probe.
    *
    * Split rule (classic mean-plus-far-point seeding): the oversized
    * cell keeps its centroid, and its member FARTHEST from that
    * centroid (exact integer distance, ties by vec_id) joins the
    * codebook as a new cell; `settleIters` Lloyd steps then let the
    * boundary settle. Growing the codebook is safe — nothing
    * downstream fixes C, and [[knn]] probes nearest cells whatever
    * their count.
    *
    * Cost per round: ONE fused aggregate (per-cell count + farthest
    * member, off the single-pass `[cell, ‖x−c‖²]` expression) +
    * `settleIters` Lloyd shuffles. Driver state stays the codebook,
    * exactly as in [[train]].
    */
  def rebalance(e: DataFrame, cents0: Array[Array[Long]], dims: Int,
                maxCellFrac: Double = 0.25, maxRounds: Int = 4,
                settleIters: Int = 1): Array[Array[Long]] = {
    var cents = cents0
    var round = 0
    var balanced = false
    while (round < maxRounds && !balanced) {
      // ONE pass per round: per-cell count AND farthest member off the
      // fused [cell, ‖x−c‖²] expression (the round-6 bench billed the
      // previous count + far-point + broadcast-join trio ~3 jobs per
      // round). The struct max ranks by exact integer distance with
      // vec_id tie-break — ‖c‖² is cell-constant, so the ordering (and
      // the chosen far point) is identical to the ‖x‖²−2·x·c form.
      val stats = e.select(
          VectorExpressions.nearestCellScore(col("q"), cents).as("cs"),
          col("vec_id"), col("q"))
        .select(element_at(col("cs"), 1).as("cell"),
          struct(element_at(col("cs"), 2).as("d"), col("vec_id").as("vid"),
            col("q").as("fq")).as("s"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("cnt"), max(col("s")).as("far"))
        .collect()
      val n = stats.map(_.getLong(1)).sum
      val cap = math.max(1L, (maxCellFrac * n).toLong)
      val oversized = stats.filter(_.getLong(1) > cap).sortBy(_.getLong(0))
      if (oversized.isEmpty) balanced = true
      else {
        cents = cents ++ oversized.map(_.getStruct(2).getSeq[Long](2).toArray)
        var it = 0
        while (it < settleIters) { cents = lloydStep(e, cents, dims); it += 1 }
      }
      round += 1
    }
    cents
  }

  /** Nearest-cell assignment: per-row expression, zero shuffle. */
  def assign(e: DataFrame, cents: Array[Array[Long]]): DataFrame =
    e.withColumn("cell", VectorExpressions.nearestCell(col("q"), cents))

  /** IVF top-k: probe the `nprobe` nearest cells per query, score
    * candidates via one broadcast join on cell id, salted two-phase
    * ranking. `queries` needs (query_id, qq, nq); `assigned` is the
    * output of [[assign]].
    */
  def knn(queries: DataFrame, assigned: DataFrame, cents: Array[Array[Long]],
          nprobe: Int, k: Int): DataFrame = {
    val probes = queries.select(col("query_id"), col("qq"), col("nq"),
      explode(VectorExpressions.nearestCells(col("qq"), cents, nprobe)).as("cell"))
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        VectorOps.cosineQ(graft.expressions.VectorExpressions.dotQ(col("qq"), col("q")),
          col("nq"), col("n")).as("_c"))
    // a vector appears in exactly one cell, so no (query, vec) pair
    // can surface twice — no dedup needed before ranking.
    Relational.topKPerGroupSalted(scored, Seq(col("query_id")),
        Seq(col("_c").desc, col("vec_id")), k, col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        (round(col("_c"), 6) + lit(0.0)).as("cos"), col("rnk"))
  }
}
