package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The per-operator object-agg fallback rule (BoundedAggFallback): bounded
  * udaf nodes get the high-threshold exec, unbounded builtin collects stay
  * on the stock exec and the session's spill-safe 128-key default. Both
  * failure modes this guards were measured: default threshold sorted the
  * kNN pair stream (disk-kill at 2M, r10); a global 4M threshold held
  * ~500k live CollectSet HashSets per task and OOM'd the 1000x pipeline
  * (r11).
  */
class BoundedAggFallbackSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def stockObjectHashLines(plan: String): Seq[String] =
    plan.linesIterator.toVector.filter(l =>
      l.contains("ObjectHashAggregate") && !l.contains("BoundedObjectHashAggregate"))

  // > 128 distinct keys so hash mode past the session default is the only
  // way the bounded exec's threshold could matter
  private lazy val wide = (0 until 4000)
    .map(i => (i % 400, i.toDouble)).toDF("g", "s")

  test("all-bounded udaf agg plans as BoundedObjectHashAggregate " +
    "(both partial and final) and matches sort-desc-take-k") {
    val df = wide.groupBy($"g").agg(TopKAgg.topK($"s", 3).as("t"))
    val plan = planOf(df)
    assert(plan.contains("BoundedObjectHashAggregate"), plan)
    assert(stockObjectHashLines(plan).isEmpty,
      s"stock ObjectHashAggregate survived an all-bounded node:\n$plan")
    // results through the swapped exec stay exact across all 400 groups
    val got = df.select($"g", $"t").as[(Int, Seq[Double])].collect().toMap
    val want = (0 until 4000).map(i => (i % 400, i.toDouble))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.reverse.take(3)).toMap
    assert(got.size == 400)
    want.foreach { case (g, exp) => assert(got(g) == exp, s"group $g") }
  }

  test("unbounded builtin collect_set stays on the stock exec") {
    val df = wide.groupBy($"g").agg(collect_set($"s").as("vs"))
    val plan = planOf(df)
    assert(!plan.contains("BoundedObjectHashAggregate"), plan)
    assert(stockObjectHashLines(plan).nonEmpty, plan)
  }

  test("a node mixing a bounded udaf with an unbounded builtin stays stock") {
    val df = wide.groupBy($"g")
      .agg(TopKAgg.topK($"s", 3).as("t"), collect_set($"s").as("vs"))
    val plan = planOf(df)
    assert(!plan.contains("BoundedObjectHashAggregate"), plan)
    // and still computes both correctly for a spot group
    val row = df.where($"g" === 7).select($"t", size($"vs"))
      .as[(Seq[Double], Int)].head()
    assert(row._1 == Seq(3607.0, 3207.0, 2807.0))
    assert(row._2 == 10)
  }

  test("count beside a bounded udaf keeps the node bounded: fixed-width " +
    "declarative buffers count at 8 bytes a slot") {
    val df = wide.groupBy($"g")
      .agg(count($"s").as("n"), TopKAgg.topK($"s", 3).as("t"))
    val plan = planOf(df)
    assert(plan.contains("BoundedObjectHashAggregate"), plan)
    assert(stockObjectHashLines(plan).isEmpty, plan)
    val row = df.where($"g" === 7).select($"n", $"t")
      .as[(Long, Seq[Double])].head()
    assert(row == ((10L, Seq(3607.0, 3207.0, 2807.0))))
  }

  test("first(string) beside a bounded udaf stays stock: a variable-width " +
    "buffer slot has no byte bound") {
    val df = wide.withColumn("name", $"s".cast("string")).groupBy($"g")
      .agg(first($"name").as("f"), TopKAgg.topK($"s", 3).as("t"))
    val plan = planOf(df)
    assert(!plan.contains("BoundedObjectHashAggregate"), plan)
    assert(stockObjectHashLines(plan).nonEmpty, plan)
  }

  test("count beside an unbounded collect_set stays stock") {
    val df = wide.groupBy($"g")
      .agg(count($"s").as("n"), collect_set($"s").as("vs"))
    val plan = planOf(df)
    assert(!plan.contains("BoundedObjectHashAggregate"), plan)
    assert(stockObjectHashLines(plan).nonEmpty, plan)
  }

  test("a GROUPED wide-bloom agg stays on the stock spill-safe exec: " +
    "bounded-by-construction but 128 MB per buffer fails the byte budget") {
    // 2^30-bit bloom: maxBufferBytes ~128 MB -> derived threshold 8 < 128
    val df = wide
      .withColumn("h1", xxhash64($"s"))
      .withColumn("h2", xxhash64($"s", lit(1)))
      .groupBy($"g")
      .agg(BloomAgg.bloom($"h1", $"h2", 1 << 30, 3).as("bits"))
    val plan = planOf(df)
    assert(!plan.contains("BoundedObjectHashAggregate"), plan)
    assert(stockObjectHashLines(plan).nonEmpty, plan)
  }

  test("thresholdFor derives from the byte budget: small buffers cap at " +
    "4M, fat buffers fall back to None") {
    import org.apache.spark.sql.graft.BoundedAggFallback
    def aggsOf(df: org.apache.spark.sql.DataFrame) = {
      // AdaptiveSparkPlanExec holds its plan as a field, not a child —
      // collect on the wrapper sees nothing; unwrap to the input plan
      // (pre-prep-rule, so the stock exec case matches)
      val p = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case other => other
      }
      p.collect {
        case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec =>
          o.aggregateExpressions
        case b: org.apache.spark.sql.graft.BoundedObjectHashAggregateExec =>
          b.aggregateExpressions
      }.flatten
    }
    val small = aggsOf(wide.groupBy($"g").agg(TopKAgg.topK($"s", 3).as("t")))
    assert(BoundedAggFallback.thresholdFor(small, 128)
      .contains(BoundedAggFallback.MaxBoundedThreshold))
    val fat = aggsOf(wide.withColumn("h1", xxhash64($"s"))
      .withColumn("h2", xxhash64($"s", lit(1)))
      .groupBy($"g").agg(BloomAgg.bloom($"h1", $"h2", 1 << 30, 3).as("b")))
    assert(BoundedAggFallback.thresholdFor(fat, 128).isEmpty)
    // histogram sketch: clamped domain bounds the buffer, but the worst
    // case (~200 MB) still fails the budget -> stock exec
    val hist = aggsOf(wide.groupBy($"g")
      .agg(HistQuantileAgg.histQuantiles($"s", 10.0, Seq(0.5)).as("q")))
    assert(BoundedAggFallback.thresholdFor(hist, 128).isEmpty)
  }

  test("HistQuantileAgg saturates bin indices at the fixed +/-2^20 edges " +
    "deterministically") {
    // values far outside the clamp range land in the edge bins; the
    // median of an all-saturated input is the edge estimate, identical
    // under any partitioning
    val big = Seq.fill(100)(1e12).toDF("x").repartition(7)
    val est = big.agg(
      HistQuantileAgg.histQuantiles(col("x"), 1.0, Seq(0.5)).as("q"))
      .select(element_at(col("q"), 1)).as[Double].head()
    val edge = (1L << 20).toDouble
    assert(est >= edge && est <= edge + 1.0, s"est=$est")
    // in-range values are untouched by the clamp
    val inRange = Seq(1.0, 2.0, 3.0).toDF("x")
      .agg(HistQuantileAgg.histQuantiles(col("x"), 10.0, Seq(0.5)).as("q"))
      .select(element_at(col("q"), 1)).as[Double].head()
    assert(math.abs(inRange - 20.0 / 3.0) < 1e-9, s"inRange=$inRange")
  }

  test("global (no grouping) bounded agg over an empty input emits the " +
    "zero-buffer row through the swapped exec") {
    val empty = wide.where($"g" < 0)
    val out = empty.agg(TopKAgg.topK($"s", 3).as("t"))
    assert(planOf(out).contains("BoundedObjectHashAggregate"), planOf(out))
    assert(out.as[Seq[Double]].head() == Seq.empty[Double])
  }
}
