package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded top-K harmonic sum: Σ sᵢ/i² over the K largest values, ranked
  * descending (1-based) — the reference's per-source association score
  * (sc:293-324) computed inside the aggregator.
  *
  * `Scoring.harmonicFold(TopKAgg.topK(x, k))` materializes the sorted
  * top-K array per group and then folds it with an interpreted
  * `aggregate∘zip_with∘sequence` outside whole-stage codegen — and a
  * `where` on the folded alias is pushed below the Project with the fold
  * inlined, so every threshold re-runs it. Here the buffer, `reduce` and
  * `merge` are [[TopKAgg]]'s own (delegated, so the two cannot drift) and
  * `finish` folds [[TopKAgg]]'s descending `finish` output in ascending
  * rank order with the same per-term arithmetic (`s / (i·i)`, i² exact
  * like `pow(i, 2)`), so the result equals the array-then-fold form
  * bit for bit. The output is a plain double attribute.
  */
class HarmonicTopKAgg(k: Int) extends Aggregator[Double, Array[Double], Double]
    with BoundedBufferAgg {

  private val topK = new TopKAgg(k)

  override def maxBufferBytes: Long = topK.maxBufferBytes

  override def zero: Array[Double] = topK.zero

  override def reduce(buf: Array[Double], v: Double): Array[Double] = topK.reduce(buf, v)

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = topK.merge(a, b)

  override def finish(buf: Array[Double]): Double = {
    val sorted = topK.finish(buf)
    var acc = 0.0
    var i = 0
    while (i < sorted.length) {
      val rank = (i + 1).toDouble
      acc += sorted(i) / (rank * rank)
      i += 1
    }
    acc
  }

  override def bufferEncoder: Encoder[Array[Double]] = topK.bufferEncoder
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

object HarmonicTopKAgg {
  /** Aggregate expression: harmonic sum of the top-K of a double column. */
  def harmonicTopK(scores: Column, k: Int): Column =
    udaf(new HarmonicTopKAgg(k)).apply(scores)
}
