package graft.functions

/** Marker for graft Aggregators whose aggregation buffer is BOUNDED by
  * construction (top-K truncation, fixed-width sketch, sized bitset) —
  * never proportional to the number of input rows in the group.
  *
  * Why it exists: ObjectHashAggregateExec holds one buffer per distinct
  * key in an in-heap hash map and only falls back to spillable sort-based
  * aggregation past `spark.sql.objectHashAggregate.sortBased.
  * fallbackThreshold` keys. For bounded buffers a huge threshold is pure
  * win (the r10 kNN tail measured 112.8 -> 80.6 s at 2M vectors once the
  * 128-key default stopped forcing a sort of the pair-sized stream). But
  * the conf is SESSION-GLOBAL, and Spark's own collect_set / collect_list
  * ride the same exec with UNBOUNDED buffers: a global 4M threshold let
  * the drug-disease pipeline's per-customer part sets pile up millions of
  * live HashSets per task and OOM a 64 GB heap at 1000x (r11, stage 23,
  * CollectSet.createAggregationBuffer) where the 128 default would have
  * spilled.
  *
  * So the threshold is not a session decision, it is a PER-OPERATOR
  * decision keyed on buffer boundedness — which Spark's conf cannot
  * express. The [[org.apache.spark.sql.graft.BoundedAggFallback]] physical
  * rule raises the threshold only for ObjectHashAggregateExec nodes whose
  * every aggregate function is marked with this trait (or is a
  * declarative builtin with fixed-width buffer slots, such as `count`);
  * everything else keeps Spark's spill-safe default.
  *
  * "Bounded" alone is not enough (r12 hardening): a sized Bloom buffer is
  * bounded by construction at up to 2^30 bits = 128 MB — 4M of those in
  * hash mode is the exact OOM class the rule exists to prevent. So the
  * marker also declares HOW bounded: `maxBufferBytes` is a conservative
  * upper bound on one LIVE buffer, and the rule derives the node's
  * threshold from a per-task heap budget divided by the per-key byte
  * bound. Small buffers (top-K of a few hundred entries) land on the 4M
  * cap; fat buffers (wide blooms, worst-case histograms) compute a
  * threshold at or below Spark's default and keep the stock spill-safe
  * exec.
  */
trait BoundedBufferAgg {

  /** Conservative upper bound, in bytes, of ONE live aggregation buffer
    * for this aggregator (JVM object overheads included — overestimate).
    * Must be a bound by CONSTRUCTION (truncation cap, fixed sketch width,
    * clamped domain), never an "expected" size.
    */
  def maxBufferBytes: Long
}
