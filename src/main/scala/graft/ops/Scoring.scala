package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Rank-weighted (harmonic-sum) scoring, the reference's core analytic.
  *
  * Reference semantics (platformDataBackendDrugDiseaseSimilarity.sc:293-338):
  * per group, collect scores, sort descending, keep top K (K=100, sc:297-298),
  * then fold Σ sᵢ / i² over 1-based rank i (sc:299-324). Source weighting:
  * literature pre-scaled ×0.2 before a 2-element re-rank (sc:325-337).
  *
  * The pipeline scores each source inside its aggregator
  * (graft.functions.HarmonicTopKAgg: bounded top-K buffer, fold in
  * `finish`), so no array column reaches a Project. [[harmonicFold]] stays
  * for array inputs — `harmonicTopK` over a collected list, and the
  * kernel benchmark's reference form — as native higher-order functions:
  * zip_with+sequence for ranks, aggregate for the fold. The cross-source
  * combine is closed form: a two-element fold needs no sort and no
  * lambda, only greatest/least, which whole-stage codegen compiles.
  */
object Scoring {

  /** Top-K scores, descending: `slice(sort_array(scores, desc), 1, k)`. */
  def topK(scores: Column, k: Int): Column =
    slice(sort_array(scores, asc = false), 1, k)

  /** Harmonic fold Σ sᵢ/i² over an already rank-ordered array.
    * Empty/null guard: sequence(1, 0) would flip to a DESCENDING [1,0] and
    * zip_with would null-pad, poisoning the fold — so empty folds to 0.
    */
  def harmonicFold(sorted: Column): Column =
    when(size(sorted) > 0,
      aggregate(
        zip_with(sorted, sequence(lit(1), size(sorted)), (e, i) => e / pow(i, lit(2))),
        lit(0.0),
        (acc, el) => acc + el
      )).otherwise(lit(0.0))

  /** Full reference scoring of a collected score array: top-K then fold. */
  def harmonicTopK(scores: Column, k: Int = 100): Column =
    harmonicFold(topK(scores, k))

  /** Two-source combine (sc:325-337): literature weighted ×0.2, re-ranked
    * against genetics, harmonic-folded again. Closed form of
    * `harmonicFold(sort_array(array(g, 0.2·l), desc))`: the fold is
    * `(0.0 + hi/1) + lo/4`, and greatest/least rank the pair with the
    * descending sort's ordering (NaN largest; a ±0.0 tie sums to +0.0
    * either way), so the result is the same double bit for bit.
    * greatest/least skip nulls where the fold propagates them, hence the
    * guard; it folds away for non-nullable inputs. Cheap enough that a
    * threshold pushed below the Project may repeat it.
    */
  def harmonicCombine(genetics: Column, literature: Column): Column = {
    val weighted = literature * lit(0.2)
    when(genetics.isNotNull && literature.isNotNull,
      (lit(0.0) + greatest(genetics, weighted)) + least(genetics, weighted) / lit(4.0))
  }
}
