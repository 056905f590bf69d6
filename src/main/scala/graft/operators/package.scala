package graft

import org.apache.spark.sql.{DataFrame, Row}

package object operators {

  /** FUSED probe + collect: bring back up to `bound` rows in ONE
    * action, or None if the relation is larger. An under-bound
    * relation previously paid the limit-probe scan AND a second full
    * collect scan; the fused form bills one. An over-bound relation
    * still short-circuits at bound+1 rows (CollectLimit executes
    * partitions incrementally) — the extra cost vs the count probe is
    * only shipping the first bound+1 rows, and callers taking this
    * path are about to run a far heavier distributed loop anyway.
    */
  private[operators] def collectUnderBound(df: DataFrame, bound: Long): Option[Array[Row]] = {
    if (bound <= 0) return None
    val rows = df.limit(math.min(bound + 1, Int.MaxValue.toLong).toInt).collect()
    if (rows.length <= bound) Some(rows) else None
  }
}
