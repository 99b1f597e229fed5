package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.pipeline.DrugDisease
import graft.schema.Schemas
import graft.sources.{Loaders, Sources}

/** `graft.RunPipeline.execute` composed stage by stage from the same public
  * functions in the same order, with every stage's output localCheckpointed
  * so each span covers only that stage's own work. The glue between stages
  * (the evidence/score join, whitelist keying, the decorated frame and the
  * JSON sink projection) follows `DrugDisease.run` line for line;
  * TracedPipelineSpec checks that both write identical sinks.
  */
object TracedPipeline {

  private def cp(df: DataFrame): DataFrame = df.localCheckpoint()

  private def neighbourSum(lut: DataFrame): Long =
    lut.agg(coalesce(sum(size(col("neighbours"))), lit(0L))).head().getLong(0)

  /** Runs the traced composition; returns the per-layer ratio metrics. */
  def run(spark: SparkSession, inDir: String, outDir: String,
          whitelistPath: Option[String], tr: Tracer): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    def j(name: String, schema: StructType) =
      Sources.json(spark, s"$inDir/$name.json", schema)

    val evidencesRaw = tr.span("sources", "scan_evidences") {
      cp(j("evidences", Schemas.evidences))
    }
    val evidenceMb = new java.io.File(s"$inDir/evidences.json").length / 1048576.0
    m("sources.scan_evidences.mb_per_s") =
      evidenceMb / tr.get("sources", "scan_evidences").wallS

    val expressionPath = Option(s"$inDir/expression.json")
      .filter(p => new java.io.File(p).isFile)
    val raw = tr.span("sources", "scan_dims") {
      Map(
        "drugs" -> cp(j("drugs", Schemas.drugs)),
        "targets" -> cp(j("targets", Schemas.targets)),
        "diseases" -> cp(j("diseases", Schemas.diseases)),
        "interactions" -> cp(j("interactions", Schemas.interactions)),
        "faers_by_drug" -> cp(j("faers_by_drug", Schemas.faersByDrug)),
        "faers_by_target" -> cp(j("faers_by_target", Schemas.faersByTarget)),
        "aggregations" -> cp(j("aggregations", Schemas.aggregations)),
        "studies" -> cp(Sources.parquet(spark, s"$inDir/studies.parquet")),
        "predictions" -> cp(Sources.parquet(spark, s"$inDir/predictions.parquet"))) ++
        Sources.optionalJson(spark, whitelistPath, Schemas.whitelist)
          .map(df => "whitelist" -> cp(df)) ++
        Sources.optionalJson(spark, expressionPath, Schemas.expression)
          .map(df => "expression" -> cp(df))
    }

    val evidences = tr.span("loaders", "evidences") {
      cp(Loaders.literatureEvidences(evidencesRaw)
        .unionByName(Loaders.geneticsEvidences(raw("studies"), raw("predictions"))))
    }
    val nEvidences = evidences.count()
    m("loaders.evidences.keep_ratio") =
      nEvidences.toDouble / (evidencesRaw.count() + raw("predictions").count())

    val in = tr.span("loaders", "dims") {
      val targets = cp(Loaders.targets(raw("targets")))
      DrugDisease.Inputs(
        drugs = cp(Loaders.drugs(raw("drugs"))),
        targets = targets,
        genesLut = cp(Loaders.genesLut(targets)),
        diseases = cp(Loaders.diseases(raw("diseases"))),
        evidences = evidences,
        ppiEdges = cp(Loaders.ppiEdges(raw("interactions"))),
        aesByDrug = cp(Loaders.faersByDrug(raw("faers_by_drug"))),
        aesByTarget = cp(Loaders.faersByTarget(raw("faers_by_target"))),
        aggregations = cp(Loaders.aggregations(raw("aggregations"))),
        whitelist = raw.get("whitelist").map(df => cp(Loaders.whitelist(df))),
        expression = raw.get("expression").map(df => cp(Loaders.expression(df))))
    }

    // ---- DrugDisease.run, one span per stage function ----
    val fullLut = tr.span("pipeline", "network_lut") {
      cp(DrugDisease.networkLut(in.ppiEdges, in.genesLut))
    }
    val lut = in.expression.fold(fullLut) { ex =>
      val filtered = tr.span("pipeline", "tissue_filter") {
        cp(DrugDisease.tissueFilteredLut(fullLut, ex))
      }
      m("pipeline.tissue_filter.edge_keep_ratio") =
        neighbourSum(filtered).toDouble / neighbourSum(fullLut)
      filtered
    }
    val scores = tr.span("pipeline", "evidence_scores") {
      cp(DrugDisease.evidenceScores(
        in.evidences.select(col("evs_id"), col("datasource"), col("score")),
        Seq("genetics", "europepmc")))
    }
    val whitelistMode = in.whitelist.isDefined
    val keyed = tr.span("pipeline", "whitelist") {
      val evs = in.evidences
        .select(col("evs_id"), col("target_id"), col("disease_id"))
        .join(scores, Seq("evs_id"))
      cp(in.whitelist match {
        case Some(wl) =>
          evs.join(broadcast(wl), Seq("disease_id"))
            .withColumnRenamed("whitelist_id", "assoc_disease_id")
        case None => evs.withColumn("assoc_disease_id", col("disease_id"))
      })
    }
    val nKeyed = keyed.count()
    m("pipeline.whitelist.keep_ratio") = nKeyed.toDouble / nEvidences

    val propagated = tr.span("pipeline", "propagate") {
      cp(DrugDisease.propagate(keyed, lut)
        .drop("target_id").withColumnRenamed("propagated_id", "target_id"))
    }
    m("pipeline.propagate.fanout") = propagated.count().toDouble / nKeyed

    val assoc = tr.span("pipeline", "make_associations") {
      cp(DrugDisease.makeAssociations(
        propagated, Seq(col("target_id"), col("assoc_disease_id").as("disease_id")),
        threshold = if (whitelistMode) None else Some(0.1)))
    }
    m("pipeline.make_associations.keep_ratio") = assoc.count().toDouble /
      propagated.select(col("target_id"), col("assoc_disease_id")).distinct().count()

    val (dfD, dfT) = tr.span("pipeline", "bundles") {
      (cp(in.diseases
        .join(DrugDisease.drugsForDisease(in.drugs, in.aesByDrug, in.aggregations),
          Seq("disease_id"), "left_outer")),
        cp(in.targets
          .join(DrugDisease.drugsForTarget(in.drugs, in.aesByTarget), Seq("target_id"), "left_outer")
          .join(lut.select(col("target_id"), col("neighbours")),
            Seq("target_id"), "left_outer")))
    }
    val associations = tr.span("pipeline", "decorate") {
      val assocByDisease = in.whitelist match {
        case Some(wl) =>
          assoc.withColumnRenamed("disease_id", "whitelist_id")
            .join(broadcast(wl), Seq("whitelist_id"))
        case None => assoc
      }
      cp(DrugDisease.newDrugs(
        assocByDisease.join(dfT, Seq("target_id")).join(dfD, Seq("disease_id")),
        dropEmpty = !whitelistMode))
    }
    val scored = tr.span("pipeline", "score_hypotheses") {
      cp(DrugDisease.scoreHypotheses(sinkProjection(associations),
        in.aesByDrug.select(col("drug_id"), col("aes.event").as("aes"))))
    }

    tr.span("sources", "sink_associations") {
      Sources.writeParquet(associations, s"$outDir/associations")
    }
    tr.span("sources", "sink_drug_disease") {
      Sources.writeJson(scored, s"$outDir/drug_disease")
    }
    m.toMap
  }

  /** The JSON sink projection of `DrugDisease.run`. */
  private def sinkProjection(associations: DataFrame): DataFrame =
    associations.select(
      col("disease_id"), col("target_id"),
      col("harmonic"), col("harmonic_genetics"), col("harmonic_literature"),
      col("target_name"), col("disease_name"), col("therapeutic_areas"),
      when(col("drugs_for_disease").isNotNull,
        array_distinct(flatten(transform(col("drugs_for_disease"),
          d => coalesce(
            transform(d.getField("aes"), a => a.getField("event")),
            array().cast("array<string>"))))))
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
}
