package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.HarmonicTopKAgg
import graft.ops.{Graph, Scoring}

/** The reference engine's full pipeline (SURVEY.md §3; sc:341-516),
  * re-expressed as named, unit-testable `DataFrame => DataFrame` stages.
  *
  * Input column contracts are the reference's loader projections
  * (platformDataBackendDrugDiseaseSimilarity.sc:15-289); every stage is pure
  * plan composition — nothing executes until a sink action. Caches are placed
  * at exactly the multi-consumer nodes (the reference missed two: `evs` and
  * `associations`, re-computed per sink — SURVEY §3.2).
  *
  * Scale notes per stage are inline. `run` plans each branch once: every
  * input is scanned once except targets (the gene broadcast and the target
  * dimension project it differently), drugs and diseases (two consumers
  * each). Its shuffles are the evs_id group of the one-pass evidence
  * scoring (no pivot and no join back), the network regroup, the
  * association groupBy (bounded by top-K slice) and the bundle groupBys.
  * The decoration's dimension joins carry no broadcast hint: the drug
  * bundles hold AE lists and the target dimension hub neighbour arrays, so
  * they grow with the data, and AQE must stay free to sort-merge them.
  * Two exchanges are shared, and AQE reuses them only because both
  * consumers plan identical subtrees: the gene broadcast of the two
  * accession joins, and the network LUT that `propagate` and the target
  * dimension join. Each extra branch costs its own scan, stages and
  * generated classes, which Janino compiles again on every execute once a
  * run needs more than Spark's 100-entry codegen cache.
  */
object DrugDisease {

  /** Normalized inputs — the output contracts of graft.sources.Loaders. */
  case class Inputs(
      drugs: DataFrame,          // Loaders.drugs
      targets: DataFrame,        // Loaders.targets (target_id, target_name, …)
      genesLut: DataFrame,       // Loaders.genesLut (accession, id)
      diseases: DataFrame,       // Loaders.diseases (disease_id, disease_name, therapeutic_areas, …)
      evidences: DataFrame,      // literature ∪ genetics, unionByName-compatible
      ppiEdges: DataFrame,       // Loaders.ppiEdges (A, B)
      aesByDrug: DataFrame,      // Loaders.faersByDrug (drug_id, aes)
      aesByTarget: DataFrame,    // Loaders.faersByTarget (target_id, aes)
      aggregations: DataFrame,   // Loaders.aggregations (drug_id, disease_id, …)
      whitelist: Option[DataFrame] = None, // Loaders.whitelist (whitelist_id, disease_id)
      expression: Option[DataFrame] = None) // Loaders.expression (target_id, active_tissues)

  /** The full reference pipeline (SURVEY §3.1 + §3.2): returns
    * (associations, drugDisease hypotheses) — the two frames the reference
    * writes to its parquet and JSON sinks (sc:476, 511). Whitelist presence
    * switches association keys to (target, whitelist_id) (sc:439-474).
    *
    * The associations frame is the reference's DECORATED sink row set
    * (sc:453-472): score frame ⋈ target dim (name + drugs_for_target +
    * target_aes + neighbours) ⋈ disease dim (name + therapeutic_areas +
    * drugs_for_disease + aggregation id lists), with new_drugs /
    * new_drugs_size and the open-mode size gate applied — not the bare
    * pre-decoration score frame. The drugDisease frame mirrors the JSON
    * sink's projection (sc:478-509): harmonic sub-scores, names,
    * therapeutic areas, bundle-derived aggregates, hypotheses and the two
    * AE containment sub-scores.
    *
    * The returned associations frame is cached: it is the one node with
    * two consumers — the parquet sink writes it and the JSON projection
    * reads it — so scoring, the dimension joins and the new-drug gate run
    * once per execute, where the reference recomputed the whole DAG for
    * its second sink (SURVEY §3.2). The bare score frame has a single
    * consumer and is not cached. The caller unpersists the associations
    * frame once both sinks have committed (RunPipeline.execute).
    */
  def run(in: Inputs): (DataFrame, DataFrame) = {
    // With expression data, the network keeps only tissue-co-active edges
    // (sc:370, 134-157); without it the filter is skipped — the reference
    // requires the expression input, so absence is a documented relaxation.
    // The filter runs on the gene pairs, before the one regroup: the rows of
    // tissueFilteredLut(networkLut(…)) with one aggregation instead of two.
    // `propagate` and dfT join the same broadcast LUT.
    val pairs = genePairs(in.ppiEdges, in.genesLut)
    val lut = in.expression.fold(adjacencyLut(pairs))(coActiveNeighbours(pairs, _))
    val evs = scoredEvidences(in.evidences, Seq("genetics", "europepmc"))
    val whitelistMode = in.whitelist.isDefined
    val keyed = in.whitelist match {
      case Some(wl) =>
        evs.join(broadcast(wl), Seq("disease_id"))
          .withColumnRenamed("whitelist_id", "assoc_disease_id")
      case None => evs.withColumn("assoc_disease_id", col("disease_id"))
    }
    val propagated = propagate(keyed, lut)
      .drop("target_id").withColumnRenamed("propagated_id", "target_id")
    // Whitelist mode keeps every association — "everything but not filtering
    // by score" (sc:441-445); open mode applies harmonic > 0.1 (sc:467).
    val assoc = makeAssociations(
      propagated, Seq(col("target_id"), col("assoc_disease_id").as("disease_id")),
      threshold = if (whitelistMode) None else Some(0.1))

    // The reference's two dimension frames (sc:427-428): disease dim ⟕
    // drug-bundle-per-disease, target dim ⟕ drug-bundle-per-target ⟕
    // network neighbourhoods. Bundle sides are left_outer exactly as the
    // reference; the dims themselves join the score frame INNER (sc:455-456,
    // 468-469), so associations only materialize for known dim rows. Only
    // the LUT side is hinted: the bundles and dims grow with the targets,
    // diseases and AE lists, so AQE picks their join strategy.
    val dfD = in.diseases
      .join(drugsForDisease(in.drugs, in.aesByDrug, in.aggregations),
        Seq("disease_id"), "left_outer")
    val dfT = in.targets
      .join(drugsForTarget(in.drugs, in.aesByTarget),
        Seq("target_id"), "left_outer")
      .join(broadcast(lut.select(col("target_id"), col("neighbours"))),
        Seq("target_id"), "left_outer")
    // Whitelist associations are keyed by whitelist id, but the drug bundles
    // are keyed by real disease ids — recover the member diseases first, as
    // the reference re-joins selectedDiseases on whitelist_id (sc:454).
    val assocByDisease = in.whitelist match {
      case Some(wl) =>
        assoc.withColumnRenamed("disease_id", "whitelist_id")
          .join(broadcast(wl), Seq("whitelist_id"))
      case None => assoc
    }
    // The decorated + gated frame IS the associations sink (sc:453-472).
    // Whitelist mode skips the new_drugs_size > 0 gate (sc:458 vs 472); a
    // null drugs_for_target bundle yields null new_drugs, dropped by the
    // open-mode gate / kept null in whitelist mode — the reference's exact
    // row set without its size(null) = -1 sentinel (see aeContainment).
    val associations = newDrugs(
      assocByDisease
        .join(dfT, Seq("target_id"))
        .join(dfD, Seq("disease_id")),
      dropEmpty = !whitelistMode)
      .cache()
    // The JSON sink projection (sc:478-494): names, therapeutic areas, the
    // bundle-derived disease AE profile (null-safe at both array levels —
    // the reference's unguarded flatten nulls the whole profile when ONE
    // member drug lacks AE data; array_except drops those null AE lists,
    // and the whole AE lists it also dedups change nothing after
    // array_distinct), per-bundle aggregates, hypotheses. Every expression
    // is codegen'd: a lambda here would cost a separately compiled
    // projection per execute.
    val drugDiseaseDF = associations.select(
      col("disease_id"), col("target_id"),
      col("harmonic"), col("harmonic_genetics"), col("harmonic_literature"),
      col("target_name"), col("disease_name"), col("therapeutic_areas"),
      when(col("drugs_for_disease").isNotNull,
        array_distinct(flatten(array_except(col("drugs_for_disease.aes"),
          array(lit(null)))).getField("event")))
        .otherwise(array().cast("array<string>"))
        .as("disease_aes_from_drugs"),
      array_distinct(flatten(col("drugs_for_disease.indication_ids")))
        .as("disease_indication_from_drugs"),
      array_max(col("drugs_for_disease.max_clinical_trial_phase"))
        .as("disease_max_clinical_trial_phase_from_drugs"),
      array_max(col("drugs_for_target.max_clinical_trial_phase"))
        .as("target_max_clinical_trial_phase_from_drugs"),
      col("associated_disease_ids").as("associated_disease_ids_from_disease_drug_agg"),
      col("associated_target_ids").as("associated_target_ids_from_disease_drug_agg"),
      col("new_drugs").as("hypotheses"))
    val scored = scoreHypotheses(drugDiseaseDF,
      in.aesByDrug.select(col("drug_id"), col("aes.event").as("aes")))
    (associations, scored)
  }

  /** Network LUT build (sc:44-74): translate accession → gene id on both
    * endpoints, emit both directions of every edge, collapse to adjacency.
    *
    * edges: (A, B) accession pairs; genes: (accession, id).
    * Output: (target_id, neighbours array<id>, degree, degree_approx).
    */
  def networkLut(edges: DataFrame, genes: DataFrame): DataFrame =
    adjacencyLut(genePairs(edges, genes))

  private def adjacencyLut(pairs: DataFrame): DataFrame =
    Graph.adjacency(pairs).withColumnRenamed("src", "target_id")

  /** Both directions of every PPI edge as gene pairs (target_id, neighbour).
    * genes is small → broadcast both joins (the reference relied on .cache +
    * whatever join Spark 2.4 picked; we pin broadcast). Translating before
    * the direction explode keeps the two joins' broadcast sides identical:
    * a consumer's `isnotnull(target_id)` stops at the generator instead of
    * reaching one join's gene side, so AQE reuses one broadcast and
    * targets.json is read once for both. Reciprocal and repeated edges give
    * repeated pairs, which every consumer's `collect_set` drops, so no
    * distinct (and no second interactions scan) is needed; a gene with a
    * null id gives pairs with a null end, which `collect_set` ignores.
    */
  private def genePairs(edges: DataFrame, genes: DataFrame): DataFrame = {
    val g = broadcast(genes.select(col("accession"), col("id")))
    val e = edges.select(col("A"), col("B"))
    e.join(g, e("A") === g("accession"))
      .select(col("id").as("A_id"), col("B"))
      .join(g, col("B") === g("accession"))
      .select(explode(array(
        struct(col("A_id").as("target_id"), col("id").as("neighbour")),
        struct(col("id").as("target_id"), col("A_id").as("neighbour")))).as("e"))
      .select(col("e.target_id"), col("e.neighbour"))
  }

  /** Tissue-activity edge filter (sc:134-157): a neighbour stays in the
    * LUT only when it shares at least one ACTIVE tissue with the target —
    * evidence shouldn't propagate across a protein interaction whose two
    * genes are never expressed in the same tissue. Both joins are against
    * the expression dimension (one row per gene → broadcast-pinned); the
    * reference's inner joins also DROP targets with no expression record,
    * preserved here. Regroup sorts for determinism (the reference's
    * collect_list order is partitioning-dependent).
    *
    * lut: (target_id, neighbours, …); expression: (target_id,
    * active_tissues). Output: (target_id, neighbours) — tissue-filtered.
    */
  def tissueFilteredLut(lut: DataFrame, expression: DataFrame): DataFrame =
    coActiveNeighbours(
      lut.select(col("target_id"), explode(col("neighbours")).as("neighbour")),
      expression)

  /** pairs: (target_id, neighbour). Output: (target_id, neighbours) — the
    * sorted distinct co-active neighbours; a target with none has no row.
    */
  private def coActiveNeighbours(pairs: DataFrame, expression: DataFrame): DataFrame = {
    val ex = broadcast(expression.select(col("target_id"), col("active_tissues")))
    pairs
      .join(ex.withColumnRenamed("active_tissues", "target_tissues"),
        Seq("target_id"))
      .join(ex.toDF("neighbour", "neighbour_tissues"), Seq("neighbour"))
      .where(size(array_intersect(
        col("target_tissues"), col("neighbour_tissues"))) > 0)
      .groupBy(col("target_id"))
      .agg(sort_array(collect_set(col("neighbour"))).as("neighbours"))
  }

  /** One source's score among an evidence group's rows: the first row of
    * that source, as the reference pivot's `first(score)` took it. A missing
    * source, a null score and a NaN score all read 0.0, as its
    * `na.fill(0.0)` left them. Built from codegen'd array expressions (no
    * lambda), so the projection stays inside the surrounding codegen stage.
    *
    * rows: array<struct<datasource, score, …>>.
    */
  private def sourceScore(rows: Column, source: String): Column = {
    val at = (array_position(rows.getField("datasource"), source) - 1).cast("int")
    coalesce(nanvl(get(rows.getField("score"), at), lit(null)), lit(0.0)).as(source)
  }

  /** Per-evidence source scores (sc:433-437): one column per source,
    * missing → 0, one row per evs_id. The sources are an explicit list, so
    * there is no distinct-values driver job as in the reference's pivot,
    * and no pivot: one group by evs_id. `run` scores with
    * `scoredEvidences` through the same `sourceScore` instead: joining
    * these rows back to the evidences would read them a second time and
    * add a shuffle.
    *
    * evidences: (evs_id, datasource, score). Output: (evs_id, <src>...).
    */
  def evidenceScores(evidences: DataFrame, datasources: Seq[String]): DataFrame =
    evidences
      .groupBy(col("evs_id"))
      .agg(collect_list(struct(col("datasource"), col("score"))).as("rows"))
      .select(col("evs_id") +: datasources.map(sourceScore(col("rows"), _)): _*)

  /** Every evidence row with its evs_id's source scores, in one pass: the
    * rows that `evidenceScores` joined back on evs_id gave. The group
    * carries its rows, so the evidences are read once and shuffled once,
    * with no join. Rows sharing an evs_id (genetics ids repeat when
    * predictions repeat) stay separate rows with the group's scores; a null
    * evs_id is dropped, as that inner join dropped it. `collect_list` is the
    * only aggregate: a declarative one beside it (`first`) would add
    * generated projections to the aggregate. The scores are taken once per
    * group, below the explode: above it they would scan the group's rows
    * once per row, O(n²) in the group size.
    *
    * evidences: (evs_id, target_id, disease_id, datasource, score).
    * Output: (evs_id, target_id, disease_id, <src>...).
    */
  def scoredEvidences(evidences: DataFrame, datasources: Seq[String]): DataFrame = {
    val scores = datasources.map(col)
    evidences
      .where(col("evs_id").isNotNull)
      .groupBy(col("evs_id"))
      .agg(collect_list(struct(col("target_id"), col("disease_id"),
        col("datasource"), col("score"))).as("rows"))
      .select(col("evs_id") +: col("rows") +:
        datasources.map(sourceScore(col("rows"), _)): _*)
      .select(col("evs_id") +: explode(col("rows")).as("row") +: scores: _*)
      .select(col("evs_id") +: col("row.target_id") +: col("row.disease_id") +:
        scores: _*)
  }

  /** 1-hop reflexive propagation (sc:448-450, 462-464): each evidence row
    * fans out to the target's neighbourhood ∪ {itself}. neighbours side comes
    * from networkLut. The LUT is target-sized and broadcast, the same
    * subtree `run`'s target dimension joins, so AQE builds it once.
    */
  def propagate(evs: DataFrame, lut: DataFrame): DataFrame =
    evs
      .join(broadcast(lut.select(col("target_id"), col("neighbours"))),
        Seq("target_id"))
      .withColumn("propagated_id",
        explode(array_union(col("neighbours"), array(col("target_id")))))
      .drop("neighbours")

  /** Association scoring (sc:293-338): group by the association keys,
    * per-source top-100 harmonic folds, literature ×0.2 cross-source combine,
    * threshold. graft.functions.HarmonicTopKAgg bounds the aggregation
    * buffer to K scores on the map side — the shuffle carries at most K
    * doubles per (group, partition), where collect_list+slice would ship
    * every evidence row before truncating — and folds in its `finish`, so
    * the per-source scores leave the node as attributes. The threshold is
    * pushed below the combine's Project with the combine inlined; that
    * repeats only the closed-form greatest/least arithmetic. With `count`
    * beside the two bounded aggregators the node keeps hash mode
    * (BoundedAggFallback).
    *
    * Input needs columns: keys..., evs_id, genetics, europepmc.
    */
  def makeAssociations(evs: DataFrame, keys: Seq[Column],
                       threshold: Option[Double] = Some(0.1)): DataFrame = {
    val scored = evs
      .groupBy(keys: _*)
      .agg(
        count(col("evs_id")).as("evidence_count"),
        HarmonicTopKAgg.harmonicTopK(col("genetics"), 100).as("harmonic_genetics"),
        // the reference names the europepmc-sourced fold "literature"
        // (sc:298, 312) — the sink schema carries harmonic_literature
        HarmonicTopKAgg.harmonicTopK(col("europepmc"), 100).as("harmonic_literature"))
      .withColumn("harmonic",
        Scoring.harmonicCombine(col("harmonic_genetics"), col("harmonic_literature")))
    // None = whitelist mode: the reference keeps every association (sc:441-445).
    threshold.fold(scored)(t => scored.where(col("harmonic") > t))
  }

  /** Decoration columns are optional on tiny spec worlds: null-typed when
    * the input frame doesn't carry them, so bundle structs keep a stable
    * schema without forcing every caller to materialize every column.
    */
  private def withNullArrays(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast("array<string>"))
    }

  /** Drugs-for-disease bundle (sc:385-400): drugs ⟕ AE profiles ⟖
    * aggregations (right outer keeps aggregation rows without a drug record —
    * the reference's one right join, J8), nested per disease. The struct
    * carries indication_ids (sc:392) — the JSON sink's
    * disease_indication_from_drugs derives from it (sc:488) — and the
    * aggregation's associated id lists ride along per disease via first()
    * (sc:398-399).
    *
    * drugs: (drug_id, drug_name, max_clinical_trial_phase, indication_ids
    * array); aesByDrug: (drug_id, aes array<struct>); aggregations:
    * (drug_id, disease_id[, associated_disease_ids, associated_target_ids]).
    * Output: (disease_id, drugs_for_disease array<struct>,
    * associated_disease_ids, associated_target_ids).
    */
  def drugsForDisease(drugs: DataFrame, aesByDrug: DataFrame,
                      aggregations: DataFrame): DataFrame = {
    val agg = withNullArrays(aggregations,
      "associated_disease_ids", "associated_target_ids")
    drugs
      .transform(withNullArrays(_, "indication_ids"))
      .join(aesByDrug, Seq("drug_id"), "left_outer")
      .join(agg, Seq("drug_id"), "right_outer")
      .groupBy(col("disease_id"))
      .agg(
        collect_list(struct(
          col("drug_id"), col("drug_name"), col("max_clinical_trial_phase"),
          col("indication_ids"), col("aes"))).as("drugs_for_disease"),
        first(col("associated_disease_ids")).as("associated_disease_ids"),
        first(col("associated_target_ids")).as("associated_target_ids"))
  }

  /** Drugs-by-mechanism-of-action bundle (sc:407-421): explode each drug's
    * MoA target list, nest per target, decorate with target-level AE
    * profiles. The struct carries max_clinical_trial_phase and
    * indication_ids (sc:415, 418) — the JSON sink's
    * target_max_clinical_trial_phase_from_drugs derives from it (sc:490).
    *
    * drugs: (drug_id, drug_name, max_clinical_trial_phase, indication_ids,
    * target_ids array<string>, ...); aesByTarget: (target_id, aes
    * array<struct>).
    * Output: (target_id, drugs_for_target array<struct>, target_aes).
    */
  def drugsForTarget(drugs: DataFrame, aesByTarget: DataFrame): DataFrame =
    drugs
      .transform(withNullArrays(_, "indication_ids"))
      .where(size(col("target_ids")) > 0)
      .withColumn("target_id", explode(col("target_ids")))
      .groupBy(col("target_id"))
      .agg(collect_list(struct(
        col("drug_id"), col("drug_name"), col("max_clinical_trial_phase"),
        col("indication_ids"))).as("drugs_for_target"))
      .join(aesByTarget.withColumnRenamed("aes", "target_aes"),
        Seq("target_id"), "left_outer")

  /** New-drug hypotheses (sc:457-472): drugs reaching the target minus drugs
    * already used for the disease — array_except ≡ anti-join at the array
    * level (U6).
    *
    * Faithful to the reference: a null drugs_for_disease bundle makes
    * array_except (and hence new_drugs / new_drugs_size) null, so those rows
    * are DROPPED by the size gate in open mode — a disease with no existing
    * drugs yields no hypotheses (sc:457, 470-472). Whitelist mode skips the
    * gate (`dropEmpty = false`, sc:458) and keeps them with null new_drugs;
    * the downstream explode drops them from scoring.
    *
    * associations decorated with drugs_for_disease / drugs_for_target structs.
    */
  def newDrugs(assoc: DataFrame, dropEmpty: Boolean = true): DataFrame = {
    val withNew = assoc
      .withColumn("new_drugs",
        array_except(col("drugs_for_target.drug_id"), col("drugs_for_disease.drug_id")))
      .withColumn("new_drugs_size", size(col("new_drugs")).cast("long"))
    if (dropEmpty) withNew.where(col("new_drugs_size") > 0) else withNew
  }

  /** AE-profile containment score (sc:499-509): per hypothesis drug,
    * asymmetric differences vs the disease AE profile, blend 0.4/0.6.
    *
    * The reference ran Spark 2.4 non-ANSI, where x/0 → null → dropped by the
    * final filter. Spark 4 defaults to ANSI mode, where double division by
    * zero THROWS — so the empty-profile case (size == 0) is guarded with
    * `when`, producing the same null-then-dropped outcome under both modes.
    *
    * DELIBERATE DEVIATION for NULL profiles (missing AE data): Spark 2.4's
    * legacy size(null) = -1 sentinel made the reference score a null side
    * as 1 − (−1/−1) = 0.0 — and inflate the OPPOSITE side to 1 + 1/n via
    * size(array_except(x, null)) = −1 — so rows with a missing profile were
    * KEPT with scores that can exceed 1. Here size(null) is null, the blend
    * is null, and the row drops: unscorable beats sentinel-arithmetic
    * scores. Asserted in DrugDiseaseSpec ("missing AE profile drops").
    *
    * aeContainment is one direction — the fraction of `a` covered by `b`
    * (sc:503, 505) — and the JSON sink's two sub-score columns;
    * aeSimilarity is the 0.4/0.6 blend.
    */
  def aeContainment(a: Column, b: Column): Column =
    when(size(a) > 0,
      lit(1.0) - size(array_except(a, b)).cast("double") / size(a).cast("double"))

  def aeSimilarity(drugAes: Column, diseaseAes: Column): Column =
    lit(0.4) * aeContainment(drugAes, diseaseAes) +
      lit(0.6) * aeContainment(diseaseAes, drugAes)

  /** Hypothesis scoring (sc:496-511): explode hypotheses, join each
    * candidate drug's AE profile (broadcast LUT, the reference's cachedAEs),
    * emit BOTH containment sub-scores plus the 0.4/0.6 blend — the JSON
    * sink's exact score columns (sc:502-508) — keep > 0.
    *
    * hyp: any frame with (hypotheses array<string>, disease_aes_from_drugs)
    * — every other column passes through to the sink; drugAeLut: (drug_id,
    * aes).
    */
  def scoreHypotheses(hyp: DataFrame, drugAeLut: DataFrame): DataFrame = {
    val lut = broadcast(drugAeLut
      .select(col("drug_id"), col("aes").as("drug_hypothesis_aes")))
    hyp
      .withColumn("drug_hypothesis", explode(col("hypotheses")))
      .join(lut, col("drug_hypothesis") === lut("drug_id"), "left_outer")
      .drop("drug_id")
      .withColumn("drug_hypothesis_aes_score",
        aeContainment(col("drug_hypothesis_aes"), col("disease_aes_from_drugs")))
      .withColumn("disease_aes_score",
        aeContainment(col("disease_aes_from_drugs"), col("drug_hypothesis_aes")))
      .withColumn("drug_hypothesis_disease_aes_score",
        (lit(0.4) * col("drug_hypothesis_aes_score") +
          lit(0.6) * col("disease_aes_score")) / lit(1.0))
      .where(col("drug_hypothesis_disease_aes_score") > 0.0)
  }
}
