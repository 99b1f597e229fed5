package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{AsOf, RollingHash}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based equivalence checks for the custom operators: on random
  * (seeded, reproducible) inputs, each custom implementation must agree
  * exactly with a composed built-in or hand-computed reference — the
  * strongest guard against edge-case drift (empty groups, duplicate
  * keys/timestamps, boundary K, short inputs).
  *
  * Bare scalacheck generators with explicit seeds (the scalatest bridge
  * artifact isn't in the offline cache); 12 cases per property keeps the
  * suite fast while still sweeping the edge space.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def cases[A](gen: Gen[A], n: Int = 12): Seq[A] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  test("property: TopKAgg equals sort-desc-then-slice on random groups") {
    val gen = Gen.zip(
      Gen.listOfN(30, Gen.zip(Gen.choose(0, 4), Gen.choose(0.0, 1.0))),
      Gen.choose(1, 6))
    cases(gen).foreach { case (rows, k) =>
      val got = rows.toDF("g", "s").groupBy(col("g"))
        .agg(TopKAgg.topK(col("s"), k).as("t"))
        .as[(Int, Seq[Double])].collect().toMap
      val want = rows.groupBy(_._1).map { case (g, vs) =>
        g -> vs.map(_._2).sorted(Ordering[Double].reverse).take(k)
      }
      assert(got == want, s"k=$k rows=$rows")
    }
  }

  test("property: HarmonicTopKAgg equals harmonicFold over TopKAgg exactly, " +
    "across K and partition merges") {
    // scores with duplicates, zeros and both signed zeros; group sizes
    // 1-250 cross K = 100 so the bounded buffer displaces and truncates
    val score = Gen.frequency(
      6 -> Gen.choose(0.0, 1.0),
      2 -> Gen.oneOf(0.25, 0.5, 0.75, 1.0),
      1 -> Gen.const(0.0),
      1 -> Gen.const(-0.0))
    val group = Gen.choose(1, 250).flatMap(n => Gen.listOfN(n, score))
    val gen = Gen.listOfN(3, group)
    cases(gen).foreach { groups =>
      val rows = groups.zipWithIndex.flatMap { case (vs, g) => vs.map(v => (g, v)) }
      // round-robin over 3 partitions: every group has partial buffers
      // on several partitions, so merge runs before finish
      val df = rows.toDF("g", "s").repartition(3)
      assert(df.rdd.getNumPartitions == 3)
      val got = df.groupBy(col("g"))
        .agg(
          HarmonicTopKAgg.harmonicTopK(col("s"), 100).as("h"),
          TopKAgg.topK(col("s"), 100).as("t"))
        .select(col("g"), col("h"), graft.ops.Scoring.harmonicFold(col("t")).as("f"))
        .as[(Int, Double, Double)].collect()
      assert(got.length == groups.length)
      got.foreach { case (g, h, f) =>
        assert(h == f, s"group $g: $h != $f (n=${groups(g).length})")
      }
    }
  }

  test("property: closed-form harmonicCombine matches the sort + fold form " +
    "bit for bit, interpreted and codegen") {
    import graft.ops.Scoring
    val special = Gen.oneOf(Double.NaN, 0.0, -0.0, 0.1, 1.0)
    val value = Gen.frequency(4 -> Gen.choose(0.0, 3.0), 1 -> special)
    val pair = Gen.frequency(
      4 -> Gen.zip(value, value),
      1 -> value.map(v => (v, v)),        // equal inputs
      1 -> value.map(v => (v * 0.2, v)))  // g equals the weighted literature
    val oldForm = Scoring.harmonicFold(
      sort_array(array(col("g"), col("l") * lit(0.2)), asc = false))
    cases(Gen.listOfN(40, pair)).foreach { pairs =>
      val df = pairs.toDF("g", "l")
      // a local relation is folded by the interpreted evaluator; after a
      // shuffle the projection runs in whole-stage codegen
      Seq(df, df.repartition(2)).foreach { in =>
        val got = in.select(col("g"), col("l"),
            Scoring.harmonicCombine(col("g"), col("l")).as("closed"),
            oldForm.as("fold"))
          .as[(Double, Double, Double, Double)].collect()
        assert(got.length == pairs.length)
        got.foreach { case (g, l, closed, fold) =>
          assert(java.lang.Double.doubleToRawLongBits(closed) ==
            java.lang.Double.doubleToRawLongBits(fold),
            s"g=$g l=$l closed=$closed fold=$fold")
        }
      }
    }
    // a null side nulls the fold; the closed form must not fall back to
    // the other side
    val nulls = Seq[(Option[Double], Option[Double])](
        (Some(0.5), None), (None, Some(0.5)), (None, None))
      .toDF("g", "l")
      .select(Scoring.harmonicCombine(col("g"), col("l")).as("closed"),
        oldForm.as("fold"))
      .as[(Option[Double], Option[Double])].collect()
    assert(nulls.forall(_ == ((None, None))), nulls.toSeq)
  }

  test("property: as-of join equals the max-ts-at-or-before lookup per row") {
    val gen = Gen.zip(
      Gen.listOfN(20, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 20L))),
      Gen.listOfN(12, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 20L))))
    cases(gen).foreach { case (lRows, rRows) =>
      // right side deduped on (key, ts): operator ties are caller-resolved
      val r = rRows.distinct
      val left = lRows.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }.toDF("lid", "k", "ts")
      val right = r.map { case (k, t) => (k, t, k * 100 + t) }
        .toDF("rk", "rts", "rv")
      val got = AsOf.join(left, right, "k", "rk", "ts", "rts")
        .select(col("lid"), col("rv")).as[(Long, Option[Long])]
        .collect().toMap
      val want = lRows.zipWithIndex.map { case ((k, t), i) =>
        val cand = r.filter { case (rk, rt) => rk == k && rt <= t }
        i.toLong -> cand.sortBy(_._2).lastOption.map { case (rk, rt) => rk * 100 + rt }
      }.toMap
      assert(got == want, s"left=$lRows right=$r")
    }
  }

  test("property: rolling hash windows equal the direct per-window polynomial") {
    val gen = Gen.zip(
      Gen.choose(0, 12).flatMap(n =>
        Gen.listOfN(n, Gen.choose(0L, RollingHash.P - 1))),
      Gen.choose(1, 5))
    cases(gen).foreach { case (toks, k) =>
      val got = Seq(Tuple1(toks)).toDF("t")
        .select(expr(s"graft_rolling_hash(t, $k)").as("h"))
        .as[Seq[Long]].head()
      // direct (non-rolling) formula, exact via BigInt
      val want =
        if (toks.length < k) Seq.empty[Long]
        else toks.sliding(k).map { win =>
          win.foldLeft(BigInt(0))((acc, t) =>
            (acc * RollingHash.B + t) mod BigInt(RollingHash.P)).toLong
        }.toSeq
      assert(got == want, s"k=$k toks=$toks")
    }
  }
}
