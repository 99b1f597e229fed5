package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, MutableProjection, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ObjectAggregationIterator, ObjectHashAggregateExec, ScalaAggregator}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Object-hash aggregation with a PER-OPERATOR sort-fallback threshold —
  * the piece Spark's session-global
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` cannot
  * express.
  *
  * The scale problem, both directions (measured):
  *
  *  - Threshold too LOW for bounded buffers: graft's top-K / sketch
  *    aggregators keep O(K) state per key, so the hash map is cheap at any
  *    key count — but Spark's default flips to sort-based aggregation at
  *    128 keys per partition, sorting the whole input stream. The kNN
  *    tail's pair-sized stream disk-killed at 2M vectors until the
  *    threshold was raised (112.8 -> 80.6 s once hash mode held, r10).
  *  - Threshold too HIGH for unbounded buffers: Spark's own collect_set /
  *    collect_list ride the same exec, and their buffers grow with the
  *    group. A session-global 4M threshold let the drug-disease pipeline's
  *    per-customer part sets keep ~500k live HashSets per task in hash
  *    mode and OOM a 64 GB heap at 1000x (r11, CollectSet
  *    .createAggregationBuffer), where the 128 default would have spilled
  *    to the sort path after the first 128 keys.
  *
  * So sessions keep Spark's spill-safe default, and [[BoundedAggFallback]]
  * swaps in this exec — identical to ObjectHashAggregateExec's execution
  * (one ObjectAggregationIterator per partition; see Spark's
  * sql/core ObjectHashAggregateExec.scala) but with the threshold pinned
  * high — exactly where every aggregate buffer in the node is marked
  * [[graft.functions.BoundedBufferAgg]] or is a fixed-width declarative
  * builtin (`count` beside the top-K aggregators). Distribution,
  * partitioning and output are inherited unchanged from
  * [[BaseAggregateExec]], so the swap is invisible to AQE stage planning
  * and exchange reuse.
  */
case class BoundedObjectHashAggregateExec(
    requiredChildDistributionExpressions: Option[Seq[Expression]],
    isStreaming: Boolean,
    numShufflePartitions: Option[Int],
    groupingExpressions: Seq[NamedExpression],
    aggregateExpressions: Seq[AggregateExpression],
    aggregateAttributes: Seq[Attribute],
    initialInputBufferOffset: Int,
    resultExpressions: Seq[NamedExpression],
    child: SparkPlan,
    fallbackCountThreshold: Int)
  extends BaseAggregateExec {

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "aggTime" -> SQLMetrics.createTimingMetric(sparkContext, "time in aggregation build"),
    "spillSize" -> SQLMetrics.createSizeMetric(sparkContext, "spill size"),
    "numTasksFallBacked" -> SQLMetrics.createMetric(sparkContext,
      "number of sort fallback tasks"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val aggTime = longMetric("aggTime")
    val spillSize = longMetric("spillSize")
    val numTasksFallBacked = longMetric("numTasksFallBacked")
    child.execute().mapPartitionsWithIndexInternal { (partIndex, iter) =>
      val beforeAgg = System.nanoTime()
      val hasInput = iter.hasNext
      val res = if (!hasInput && groupingExpressions.nonEmpty) {
        // grouped aggregate over an empty partition: no output rows
        Iterator.empty
      } else {
        val aggregationIterator =
          new ObjectAggregationIterator(
            partIndex,
            child.output,
            groupingExpressions,
            aggregateExpressions,
            aggregateAttributes,
            initialInputBufferOffset,
            resultExpressions,
            (expressions, inputSchema) =>
              MutableProjection.create(expressions, inputSchema),
            inputAttributes,
            iter,
            fallbackCountThreshold,
            numOutputRows,
            spillSize,
            numTasksFallBacked)
        if (!hasInput && groupingExpressions.isEmpty) {
          // global aggregate over an empty input: one zero-buffer row
          numOutputRows += 1
          Iterator.single(aggregationIterator.outputForEmptyGroupingKeyWithoutInput())
        } else {
          aggregationIterator
        }
      }
      aggTime += (System.nanoTime() - beforeAgg) / 1000000
      res
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** Physical rule (query-stage prep, so it runs under AQE before every
  * stage cut): pin a high sort-fallback threshold on object-hash
  * aggregates whose buffers are all bounded by construction; leave every
  * node carrying an unbounded builtin buffer (collect_set, collect_list,
  * percentile, ...) on the stock exec and the session's spill-safe
  * default. Streaming aggregates are excluded — their exec wiring is
  * owned by the stateful-aggregation planner.
  */
object BoundedAggFallback extends Rule[SparkPlan] {

  /** Hard cap on keys per partition before hash mode yields to the sort
    * path — reached only when the per-key byte bound is small (top-K /
    * KMV-class buffers). The cap bounds the key-pointer map itself.
    */
  val MaxBoundedThreshold: Int = 4 * 1024 * 1024

  /** Live-buffer heap budget per task that the derived threshold may not
    * exceed: threshold = budget / Σ maxBufferBytes over the node's aggs.
    * 1 GiB keeps the r10-measured 4M threshold for small buffers (a
    * 176-byte MinK buffer → 6M → capped at 4M) while a 128 MB sized-bloom
    * buffer computes to 8 — below Spark's default, so the node keeps the
    * stock spill-safe exec. "Marked bounded" alone is NOT sufficient
    * (r12 hardening, ADVICE r11): boundedness says the buffer can't grow
    * with the group, the byte budget says 4M of them actually fit.
    */
  val HeapBudgetBytes: Long = 1L << 30

  /** Byte bound of one aggregate's buffer, or None when it is unbounded.
    * A declarative builtin (count, or sum/min/max over primitives) is
    * bounded when every buffer attribute is fixed-width: it lives in the
    * node's shared buffer row, 8 bytes a slot. `first(string)` carries a
    * variable-width slot and stays unbounded.
    */
  private def boundedBytes(ae: AggregateExpression): Option[Long] =
    ae.aggregateFunction match {
      case sa: ScalaAggregator[_, _, _] =>
        sa.agg match {
          case b: graft.functions.BoundedBufferAgg => Some(b.maxBufferBytes)
          case _ => None
        }
      case d: DeclarativeAggregate
          if d.aggBufferAttributes.forall(a => UnsafeRow.isFixedLength(a.dataType)) =>
        Some(8L * d.aggBufferAttributes.length)
      case _ => None
    }

  /** Derived threshold for a node, or None if any agg is unbounded or the
    * budget-derived threshold would not beat the session default (then
    * the stock exec is strictly better — same behavior, no plan churn).
    */
  def thresholdFor(aggs: Seq[AggregateExpression],
                   sessionDefault: Int): Option[Int] = {
    val bytes = aggs.map(boundedBytes)
    if (aggs.isEmpty || bytes.exists(_.isEmpty)) None
    else {
      val perKey = math.max(1L, bytes.flatten.sum)
      val thr = math.min(MaxBoundedThreshold.toLong, HeapBudgetBytes / perKey)
      if (thr > sessionDefault) Some(thr.toInt) else None
    }
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case o: ObjectHashAggregateExec if !o.isStreaming =>
      val sessionDefault =
        o.conf.getConf(org.apache.spark.sql.internal.SQLConf
          .OBJECT_AGG_SORT_BASED_FALLBACK_THRESHOLD)
      thresholdFor(o.aggregateExpressions, sessionDefault) match {
        case Some(thr) =>
          BoundedObjectHashAggregateExec(
            o.requiredChildDistributionExpressions, o.isStreaming,
            o.numShufflePartitions, o.groupingExpressions,
            o.aggregateExpressions, o.aggregateAttributes,
            o.initialInputBufferOffset, o.resultExpressions, o.child, thr)
        case None => o
      }
  }
}
