package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Bucketed range join ≡ naive theta join — exact equivalence on random
  * points/intervals across bucket widths (boundary landing on bucket
  * edges, intervals spanning many buckets, empty matches).
  */
class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Naive interval-overlap theta join — the ground truth. */
  private def naiveOverlap(left: DataFrame, lLoCol: String, lHiCol: String,
      right: DataFrame, rLoCol: String, rHiCol: String): DataFrame =
    left.join(right, col(lLoCol) <= col(rHiCol) && col(rLoCol) <= col(lHiCol))

  test("bucketed matches naive on a literal world incl. boundary points") {
    val points = Seq((1L, 0.0), (2L, 2.5), (3L, 5.0), (4L, 9.9)).toDF("pid", "p")
    val intervals = Seq((10L, 0.0, 2.5), (20L, 2.5, 7.0), (30L, 8.0, 9.0))
      .toDF("iid", "lo", "hi")
    val got = RangeJoin.bucketed(points, "p", intervals, "lo", "hi", 2.0)
      .select(col("pid"), col("iid")).as[(Long, Long)].collect().toSet
    // inclusive bounds: p=0.0 in [0,2.5]; p=2.5 in BOTH [0,2.5] and [2.5,7];
    // p=5.0 in [2.5,7]; p=9.9 in nothing
    assert(got == Set((1L, 10L), (2L, 10L), (2L, 20L), (3L, 20L)))
  }

  test("property: bucketedOverlap equals naiveOverlap, exactly-once, across widths") {
    val ivGen = Gen.listOfN(12, Gen.zip(Gen.choose(0.0, 40.0), Gen.choose(0.0, 12.0)))
    val gen = Gen.zip(ivGen, ivGen, Gen.oneOf(0.5, 2.0, 7.0, 30.0))
    (0 until 8).foreach { i =>
      val (ls, rs, w) = gen.pureApply(Gen.Parameters.default, Seed(100L + i))
      val left = ls.zipWithIndex.map { case ((lo, sp), id) => (id.toLong, lo, lo + sp) }
        .toDF("lid", "llo", "lhi")
      val right = rs.zipWithIndex.map { case ((lo, sp), id) => (id.toLong, lo, lo + sp) }
        .toDF("rid", "rlo", "rhi")
      val got = RangeJoin.bucketedOverlap(left, "llo", "lhi", right, "rlo", "rhi", w)
        .select(col("lid"), col("rid")).as[(Long, Long)].collect().toSeq
      val want = naiveOverlap(left, "llo", "lhi", right, "rlo", "rhi")
        .select(col("lid"), col("rid")).as[(Long, Long)].collect().toSeq
      // exactly-once: compare as multisets, not sets — the ownership rule
      // must suppress duplicate emissions from shared buckets
      assert(got.sorted == want.sorted, s"seed=$i width=$w")
    }
  }

  test("property: bucketed equals naive across random data and widths") {
    val gen = Gen.zip(
      Gen.listOfN(25, Gen.choose(0.0, 50.0)),
      Gen.listOfN(10, Gen.zip(Gen.choose(0.0, 50.0), Gen.choose(0.0, 10.0))),
      Gen.oneOf(0.5, 1.0, 3.0, 25.0))
    (0 until 8).foreach { i =>
      val (ps, ivs, w) = gen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val points = ps.zipWithIndex.map { case (p, id) => (id.toLong, p) }.toDF("pid", "p")
      val intervals = ivs.zipWithIndex
        .map { case ((lo, span), id) => (id.toLong, lo, lo + span) }
        .toDF("iid", "lo", "hi")
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select(col("pid"), col("iid")).as[(Long, Long)].collect().toSet
      assert(pairs(RangeJoin.bucketed(points, "p", intervals, "lo", "hi", w)) ==
        pairs(RangeJoin.naive(points, "p", intervals, "lo", "hi")),
        s"seed=$i width=$w")
    }
  }
}
