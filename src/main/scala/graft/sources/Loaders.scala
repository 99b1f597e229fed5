package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructType}
import graft.ops.Graph

/** The reference's loader surface (sc:78-289) as pure projections over
  * schema'd inputs (graft.schema.Schemas): each function takes the RAW
  * loaded DataFrame and returns the normalized frame the pipeline stages
  * (graft.pipeline.DrugDisease) consume. All reshaping uses built-in
  * functions — the reference's one UDF (flatten+toSet, sc:171-172) is
  * array_distinct∘flatten here — and lambdas only where no codegen'd
  * expression does the job: each lambda projection is one more class that
  * Janino compiles per execute.
  */
object Loaders {

  /** drugs (sc:93-107): normalized drug dimension; target_ids is the
    * flattened MoA ensembl list (sc:409). Nested field extraction gives the
    * reference's double-transform list, null where it is null, and stays in
    * codegen where a lambda would not.
    */
  def drugs(raw: DataFrame): DataFrame =
    raw.select(
      col("id").as("drug_id"),
      col("pref_name").as("drug_name"),
      col("max_clinical_trial_phase"),
      col("number_of_mechanisms_of_action"),
      col("indications.efo_id").as("indication_ids"),
      array_distinct(flatten(col("mechanisms_of_action.target_components"))
        .getField("ensembl")).as("target_ids"))

  /** targets (sc:109-132): go reshaped to struct<code, term> (sc:121-126);
    * approved_symbol surfaces as target_name exactly as the reference
    * projects it (sc:112) — the decorated association sink carries it.
    * The reshape zips the two extracted field arrays and renames by cast:
    * the rows and type of the reference's per-element struct transform,
    * codegen'd where the lambda would run interpreted.
    */
  def targets(raw: DataFrame): DataFrame =
    raw.select(
      col("id").as("target_id"),
      col("approved_symbol").as("target_name"),
      col("uniprot_accessions"),
      arrays_zip(col("go.id"), col("go.value.term")).cast(goTerms).as("go_terms"))

  private val goTerms = ArrayType(
    new StructType().add("code", StringType).add("term", StringType),
    containsNull = false)

  /** accession→id LUT (sc:56-62): explode multi-accession genes; the
    * dimension DrugDisease.networkLut broadcasts. The reference's
    * orderBy-before-cache is intentionally dropped (SURVEY O1).
    */
  def genesLut(targets: DataFrame): DataFrame =
    targets.select(explode(col("uniprot_accessions")).as("accession"),
      col("target_id").as("id"))

  /** diseases (sc:159-188): short id from the URI tail (sc:175), then the
    * ontology closure of `diseaseOntology`.
    */
  def diseases(raw: DataFrame): DataFrame =
    diseaseOntology(raw.select(
      substring_index(col("code"), "/", -1).as("disease_id"),
      col("label").as("disease_name"),
      col("therapeutic_codes").as("therapeutic_areas"),
      col("path_codes")))

  /** Disease ontology (sc:169-187): ancestors = flatten of path_codes
    * (array_distinct replaces the reference's flatten+toSet UDF, sc:171-176 —
    * built-in, codegen-friendly), descendants = explode-invert-collect.
    * Every disease is its own ancestor/descendant, so the inner join is safe
    * (sc:181).
    *
    * diseases: (disease_id, path_codes array<array<string>>, …). Output:
    * the input columns with path_codes replaced by ancestors, plus
    * descendants; rows with no ancestor are dropped.
    */
  def diseaseOntology(diseases: DataFrame): DataFrame = {
    val withAnc = diseases
      .select(diseases.columns.toSeq.map {
        case "path_codes" => array_distinct(flatten(col("path_codes"))).as("ancestors")
        case c => col(c)
      }: _*)
      .where(size(col("ancestors")) > 0)
    val desc = Graph.invertClosure(withAnc, "disease_id", "ancestors")
      .withColumnRenamed("ancestor", "disease_id")
    withAnc.join(desc, Seq("disease_id"))
  }

  /** literature evidences (sc:222-235): source filter pushes to the scan. */
  def literatureEvidences(raw: DataFrame): DataFrame =
    raw.where(col("sourceID") === "europepmc")
      .select(
        col("id").as("evs_id"),
        col("target.id").as("target_id"),
        col("disease.id").as("disease_id"),
        col("scores.association_score").as("score"),
        lit("europepmc").as("datasource"))

  /** genetics evidences (sc:193-218): studies ⋈ predictions, confidence cut,
    * deterministic synthetic id sha1(study‖variant‖disease‖target), one row
    * per trait EFO (explode).
    */
  def geneticsEvidences(studies: DataFrame, predictions: DataFrame): DataFrame =
    predictions
      .where(col("y_proba_all_features") > 0.5)
      .withColumn("variant_id",
        concat_ws("_", col("chrom"), col("pos").cast("string"), col("ref"), col("alt")))
      .join(studies.select(col("study_id"), col("trait_efos")), Seq("study_id"))
      .withColumn("disease_id", explode(col("trait_efos")))
      .select(
        sha1(concat(col("study_id"), col("variant_id"), col("disease_id"), col("gene_id")))
          .as("evs_id"),
        col("gene_id").as("target_id"),
        col("disease_id"),
        col("y_proba_all_features").as("score"),
        lit("genetics").as("datasource"))

  /** PPI edge list (sc:13-54): directed accession pairs; optional
    * edge-quality filter = the reference's commented-out intent (sc:45-49).
    */
  def ppiEdges(raw: DataFrame, minScore: Option[Double] = None): DataFrame = {
    val base = minScore.fold(raw)(t =>
      raw.where(col("mi_score") > t ||
        (array_contains(col("source_databases"), "intact") &&
          size(col("source_databases")) > 1)))
    base.select(
      col("interactorA_uniprot_name").as("A"),
      col("interactorB_uniprot_name").as("B"))
  }

  /** expression (sc:79-90): tissues passing the activity lambda filter →
    * efo code list.
    */
  def expression(raw: DataFrame): DataFrame =
    raw.select(
      col("gene").as("target_id"),
      transform(
        filter(col("tissues"), t =>
          t.getField("rna").getField("zscore") > 0 ||
            t.getField("protein").getField("level") > 0),
        t => t.getField("efo_code")).as("active_tissues"))

  /** FAERS by drug (sc:237-255): struct-nested AE profile per drug. */
  def faersByDrug(raw: DataFrame): DataFrame =
    raw.groupBy(col("chembl_id").as("drug_id"))
      .agg(collect_list(struct(
        col("event"), col("count"), col("llr"), col("critval"))).as("aes"))

  /** FAERS by target (sc:257-275). */
  def faersByTarget(raw: DataFrame): DataFrame =
    raw.groupBy(col("target_id"))
      .agg(collect_list(struct(
        col("event"), col("report_count"), col("llr"), col("critval"))).as("aes"))

  /** aggregations (sc:277-289): projection with the reference's id-list
    * aliases (sc:281-282) — drugsForDisease carries them per disease.
    */
  def aggregations(raw: DataFrame): DataFrame =
    raw.select(col("disease_id"), col("drug_id"),
      col("associated_diseases").as("associated_disease_ids"),
      col("associated_targets").as("associated_target_ids"))

  /** whitelist (sc:446-453): one row per whitelisted disease. */
  def whitelist(raw: DataFrame): DataFrame =
    raw.select(col("whitelist_id"), explode(col("whitelist")).as("disease_id"))
}
