package graft.pipeline

import graft.{RunPipeline, SparkSpec}
import graft.sources.Loaders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RunMetrics
import org.apache.spark.storage.StorageLevel

/** Raw-input → loaders → full DrugDisease.run, both pipeline modes — the
  * complete reference-equivalent path (sc:341-516) on one literal world.
  */
class RunPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def inputs = {
    val drugsRaw = Seq(
      // d2 reaches T2 by MoA but no disease uses it yet -> the hypothesis
      ("d1", "DrugOne", 4L, 1L, Seq("D1"), Seq(Seq("T9"))),
      ("d2", "DrugTwo", 3L, 1L, Seq.empty[String], Seq(Seq("T2", "T1")))
    ).toDF("id", "pref_name", "max_clinical_trial_phase",
      "number_of_mechanisms_of_action", "ind", "moa")
      .withColumn("indications", transform(col("ind"), e => struct(e.as("efo_id"))))
      .withColumn("mechanisms_of_action", transform(col("moa"),
        m => struct(transform(m, t => struct(t.as("ensembl"))).as("target_components"))))
      .drop("ind", "moa")
    val genesLut = Seq(("P1", "T1"), ("P2", "T2")).toDF("accession", "id")
    val targets = Seq(("T1", "GeneOne"), ("T2", "GeneTwo"))
      .toDF("target_id", "target_name")
    val diseases = Seq(
      ("D1", "disease one", Seq("TA1"), Seq("D1"), Seq("D1")),
      ("D2", "disease two", Seq("TA1"), Seq("D2"), Seq("D2"))
    ).toDF("disease_id", "disease_name", "therapeutic_areas", "ancestors", "descendants")
    val evidences = Seq(
      ("e1", "T1", "D1", 0.9, "europepmc"),
      ("e2", "T1", "D1", 0.8, "genetics"),
      ("e3", "T1", "D1", 0.7, "genetics")
    ).toDF("evs_id", "target_id", "disease_id", "score", "datasource")
    val ppi = Seq(("P1", "P2")).toDF("A", "B")
    val aesByDrug = Seq(
      ("d1", Seq(("nausea", 10L))), ("d2", Seq(("nausea", 5L), ("rash", 2L)))
    ).toDF("drug_id", "raw")
      .withColumn("aes", transform(col("raw"),
        a => struct(a.getField("_1").as("event"), a.getField("_2").as("count"))))
      .drop("raw")
    val aesByTarget = aesByDrug.toDF("target_id", "aes").limit(0)
    val aggregations = Seq(("d1", "D1")).toDF("drug_id", "disease_id")
    DrugDisease.Inputs(
      drugs = Loaders.drugs(drugsRaw),
      targets = targets,
      genesLut = genesLut,
      diseases = diseases,
      evidences = evidences,
      ppiEdges = ppi,
      aesByDrug = aesByDrug,
      aesByTarget = aesByTarget,
      aggregations = aggregations)
  }

  test("open mode: evidence propagates the network; d2 scores as a repurposing hit") {
    val (assoc, scored) = DrugDisease.run(inputs)
    val rows = assoc.select(col("target_id"), col("disease_id"),
      col("evidence_count"), col("harmonic"))
      .as[(String, String, Long, Double)].collect()
    // evidence on T1 reaches T2 over the P1-P2 edge; both score identically:
    // genetics [0.8,0.7] -> 0.975 ; europepmc [0.9] -> 0.9
    // combine: 0.975 + (0.9*0.2)/4 = 1.02
    assert(rows.map(r => (r._1, r._2, r._3)).toSet ==
      Set(("T1", "D1", 3L), ("T2", "D1", 3L)))
    rows.foreach(r => assert(math.abs(r._4 - 1.02) < 1e-9))

    val hyp = scored.select(col("target_id"), col("drug_hypothesis"),
      round(col("drug_hypothesis_disease_aes_score"), 6).as("s"))
      .as[(String, String, Double)].collect().toSet
    // d2 aes {nausea, rash} vs D1 profile {nausea} (from d1):
    // s1 = 1 - 1/2 = 0.5 ; s2 = 1 - 0/1 = 1.0 ; 0.4*0.5 + 0.6*1.0 = 0.8
    assert(hyp == Set(("T1", "d2", 0.8), ("T2", "d2", 0.8)))
  }

  test("whitelist mode: association keys switch to whitelist ids; members recovered") {
    val wl = Seq(("W1", "D1")).toDF("whitelist_id", "disease_id")
    val (assoc, _) = DrugDisease.run(inputs.copy(whitelist = Some(wl)))
    // the decorated sink keeps BOTH the whitelist key and the recovered
    // member disease id (sc:453-454)
    val keys = assoc.select(col("whitelist_id"), col("disease_id"))
      .distinct().as[(String, String)].collect().toSeq
    assert(keys == Seq(("W1", "D1")))
  }

  test("whitelist mode: scored output materializes — member diseases recovered, no score gate crash") {
    val wl = Seq(("W1", "D1")).toDF("whitelist_id", "disease_id")
    val (assoc, scored) = DrugDisease.run(inputs.copy(whitelist = Some(wl)))
    // No harmonic threshold in whitelist mode (sc:441-445): every association
    // survives, even ones an open-mode 0.1 gate would keep anyway here.
    assert(assoc.count() == 2)
    // The decorate joins must re-expand W1 -> D1 (sc:454): drugs_for_disease
    // resolves to d1's bundle, so d2 scores exactly as in open mode.
    val hyp = scored.select(col("disease_id"), col("target_id"), col("drug_hypothesis"),
      round(col("drug_hypothesis_disease_aes_score"), 6).as("s"))
      .as[(String, String, String, Double)].collect().toSet
    assert(hyp == Set(("D1", "T1", "d2", 0.8), ("D1", "T2", "d2", 0.8)))
  }

  test("expression input prunes network edges without a shared active tissue") {
    // T1 active in liver only, T2 in brain only -> the P1-P2 edge is
    // pruned (sc:148-150). Reference-faithful consequence: a target with
    // no surviving network row contributes NOTHING (the reference explodes
    // a null neighbours array, sc:450/464 — zero rows), so the association
    // set is empty, not T1-only. With a shared tissue the edge survives
    // and both targets score as before.
    val disjoint = Seq(("T1", Seq("liver")), ("T2", Seq("brain")))
      .toDF("target_id", "active_tissues")
    val (assocPruned, _) = DrugDisease.run(
      inputs.copy(expression = Some(disjoint)))
    assert(assocPruned.count() == 0L)

    val shared = Seq(("T1", Seq("liver", "lung")), ("T2", Seq("lung")))
      .toDF("target_id", "active_tissues")
    val (assocShared, _) = DrugDisease.run(
      inputs.copy(expression = Some(shared)))
    val sharedTargets = assocShared.select(col("target_id"))
      .distinct().as[String].collect().toSet
    assert(sharedTargets == Set("T1", "T2"))
  }

  test("execute finds expression.json through a file: URI input root") {
    val in = RunPipelineBinarySpec.writeWorld(spark)
    val out = java.nio.file.Files.createTempDirectory("graft-out-uri").toString
    def sinks(dir: String) = (
      spark.read.parquet(s"$dir/associations").collect().map(_.toString).sorted.toSeq,
      spark.read.text(s"$dir/drug_disease").collect().map(_.getString(0)).sorted.toSeq)
    RunPipeline.execute(spark, in, s"$out/none", whitelistPath = None)
    // T1 active in liver only, T2 in brain only: the P1-P2 edge, the
    // world's only one, is pruned, so no association survives
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/expression.json"),
      Seq("""{"gene":"T1","tissues":[{"efo_code":"liver","rna":{"zscore":1.0},"protein":{"level":0.0}}]}""",
        """{"gene":"T2","tissues":[{"efo_code":"brain","rna":{"zscore":1.0},"protein":{"level":0.0}}]}""")
        .mkString("\n"))
    RunPipeline.execute(spark, in, s"$out/plain", whitelistPath = None)
    RunPipeline.execute(spark, s"file:$in", s"$out/uri", whitelistPath = None)
    assert(sinks(s"$out/none")._1.nonEmpty)
    assert(sinks(s"$out/plain")._1.isEmpty)
    assert(sinks(s"$out/uri") == sinks(s"$out/plain"))
  }

  test("whitelist mode: disease with no drugs survives to scoring without dividing by zero") {
    // D2 is whitelisted but has no aggregation row -> drugs_for_disease null
    // -> new_drugs null (kept: no size gate) -> explode drops it in scoring.
    // Under ANSI this path crashed before the aeSimilarity guard.
    val wl = Seq(("W1", "D1"), ("W2", "D2")).toDF("whitelist_id", "disease_id")
    val evs = Seq(
      ("e1", "T1", "D1", 0.9, "europepmc"),
      ("e2", "T1", "D1", 0.8, "genetics"),
      ("e4", "T1", "D2", 0.6, "genetics")
    ).toDF("evs_id", "target_id", "disease_id", "score", "datasource")
    val (_, scored) = DrugDisease.run(
      inputs.copy(evidences = evs, whitelist = Some(wl)))
    val diseases = scored.select(col("disease_id")).distinct().as[String].collect().toSet
    assert(diseases == Set("D1")) // D2 dropped null-safely, not crashed
  }

  test("disease AE profile skips a member drug without AE data and " +
    "repeats of one AE list") {
    // D1's members: d1 (nausea), d3 (no AE record -> null aes list) and d4
    // (the same list as d1). The reference's unguarded flatten nulled the
    // whole profile here; it stays {nausea}, so d2 scores as in open mode.
    val base = inputs
    def asD4(df: org.apache.spark.sql.DataFrame) =
      df.union(df.where(col("drug_id") === "d1").withColumn("drug_id", lit("d4")))
    val aggregations = Seq(("d1", "D1"), ("d3", "D1"), ("d4", "D1"))
      .toDF("drug_id", "disease_id")
    val (_, scored) = DrugDisease.run(base.copy(drugs = asD4(base.drugs),
      aesByDrug = asD4(base.aesByDrug), aggregations = aggregations))
    val rows = scored.select(col("target_id"), col("disease_aes_from_drugs"),
      col("drug_hypothesis"), round(col("drug_hypothesis_disease_aes_score"), 6))
      .as[(String, Seq[String], String, Double)].collect().toSet
    assert(rows == Set(("T1", Seq("nausea"), "d2", 0.8), ("T2", Seq("nausea"), "d2", 0.8)))
  }

  test("run caches exactly the decorated associations frame, which both " +
    "sinks read") {
    // suites share one session; start from an empty cache
    spark.catalog.clearCache()
    val (assoc, scored) = DrugDisease.run(inputs)
    assert(assoc.storageLevel != StorageLevel.NONE)
    // the JSON projection reads the cached node instead of re-planning it
    val reads = scored.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(reads.nonEmpty, scored.queryExecution.withCachedData)
    assoc.unpersist()
    // ... and it was the only entry run added (the bare score frame is not
    // cached)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("execute leaves no cache entry behind in either mode") {
    spark.catalog.clearCache()
    val in = RunPipelineBinarySpec.writeWorld(spark)
    val out = java.nio.file.Files.createTempDirectory("graft-out-cache").toString
    RunPipeline.execute(spark, in, s"$out/open", whitelistPath = None)
    assert(spark.sharedState.cacheManager.isEmpty)
    RunPipeline.execute(spark, in, s"$out/wl",
      whitelistPath = Some(s"$in/whitelist.json"))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a warm execute stays under its job ceiling in both modes") {
    // one job per query stage, so a second copy of any input branch or
    // exchange adds its stages. Ceilings are the measured counts (the
    // pivot + join-back composition ran 30 and 32).
    val in = RunPipelineBinarySpec.writeWorld(spark)
    val out = java.nio.file.Files.createTempDirectory("graft-out-jobs").toString
    Seq(None -> 26L, Some(s"$in/whitelist.json") -> 28L).foreach {
      case (wl, ceiling) =>
        RunPipeline.execute(spark, in, s"$out/cold", wl)
        val (_, m) = RunMetrics.measure(spark) {
          RunPipeline.execute(spark, in, s"$out/warm", wl)
        }
        assert(m.jobs <= ceiling, s"whitelist=${wl.isDefined}: $m")
    }
  }
}
