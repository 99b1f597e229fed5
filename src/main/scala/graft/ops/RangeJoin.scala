package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range (interval) join: point p matches interval [lo, hi] inclusive.
  *
  * Spark's built-in planning turns the naive `p >= lo && p <= hi` theta
  * join into a BroadcastNestedLoopJoin — O(points × intervals) work, the
  * classic scale killer. The bucketed form restores an equi-join: intervals
  * explode to every fixed-width bucket they overlap, points hash to their
  * single bucket, the join runs bucket-local, and the exact range predicate
  * filters the bucket-collision false positives.
  *
  * Cost: shuffle of points (1 row each) + intervals ×(span/W + 1) replicas
  * + matches — choose `bucketWidth` near the median interval span so the
  * replication factor stays ~2. Skewed hot buckets delegate to AQE's
  * skew-join split like any other equi-join.
  */
object RangeJoin {

  /** Bucketed range join; output = point columns ++ interval columns for
    * every (point, interval) containment pair. Each point owns exactly one
    * bucket, so no post-join dedup is needed.
    */
  def bucketed(points: DataFrame, pCol: String,
               intervals: DataFrame, loCol: String, hiCol: String,
               bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val pb = points
      .withColumn("__bucket", floor(col(pCol) / bucketWidth).cast("long"))
    val ib = intervals
      .withColumn("__bucket", explode(sequence(
        floor(col(loCol) / bucketWidth).cast("long"),
        floor(col(hiCol) / bucketWidth).cast("long"))))
    pb.join(ib, Seq("__bucket"))
      .where(col(pCol) >= col(loCol) && col(pCol) <= col(hiCol))
      .drop("__bucket")
  }

  /** Naive theta-join form — the ground truth for small inputs and specs;
    * plans as a nested-loop join, so never the default at scale.
    */
  def naive(points: DataFrame, pCol: String,
            intervals: DataFrame, loCol: String, hiCol: String): DataFrame =
    points.join(intervals,
      col(pCol) >= col(loCol) && col(pCol) <= col(hiCol))

  /** Interval × interval OVERLAP join ([lo, hi] inclusive on both sides),
    * bucketized. Both sides explode to their covered buckets; a pair of
    * overlapping intervals co-occurs in every bucket their spans share, so
    * the join emits it only in the FIRST shared bucket —
    * `greatest(floor(lLo/W), floor(rLo/W))` — making the output exactly-once
    * WITHOUT a distinct/dedup shuffle (the standard ownership trick).
    */
  def bucketedOverlap(left: DataFrame, lLoCol: String, lHiCol: String,
                      right: DataFrame, rLoCol: String, rHiCol: String,
                      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    def buckets(lo: String, hi: String) = explode(sequence(
      floor(col(lo) / bucketWidth).cast("long"),
      floor(col(hi) / bucketWidth).cast("long")))
    val lb = left.withColumn("__bucket", buckets(lLoCol, lHiCol))
    val rb = right.withColumn("__bucket", buckets(rLoCol, rHiCol))
    lb.join(rb, Seq("__bucket"))
      .where(col(lLoCol) <= col(rHiCol) && col(rLoCol) <= col(lHiCol) &&
        col("__bucket") === greatest(
          floor(col(lLoCol) / bucketWidth).cast("long"),
          floor(col(rLoCol) / bucketWidth).cast("long")))
      .drop("__bucket")
  }
}
