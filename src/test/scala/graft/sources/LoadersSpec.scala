package graft.sources

import graft.SparkSpec
import graft.schema.Schemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Every reference input loads through its explicit schema and normalizes
  * to the pipeline contract (FIXTURES.md §B edge cases included).
  */
class LoadersSpec extends SparkSpec {
  import spark.implicits._

  private def jsonDf(schema: org.apache.spark.sql.types.StructType,
                     lines: String*): DataFrame = {
    val f = Files.createTempFile("graft-fixture", ".json")
    Files.writeString(f, lines.mkString("\n"))
    Sources.json(spark, f.toString,
      schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
  }

  test("drugs: MoA double-transform flattens to distinct target ids") {
    val df = Loaders.drugs(jsonDf(Schemas.drugs,
      """{"id":"d1","pref_name":"DrugOne","max_clinical_trial_phase":4,
        |"number_of_mechanisms_of_action":2,
        |"indications":[{"efo_id":"E1"},{"efo_id":"E2"}],
        |"mechanisms_of_action":[
        |  {"target_components":[{"ensembl":"G1"},{"ensembl":"G2"}]},
        |  {"target_components":[{"ensembl":"G2"}]}]}""".stripMargin.replace("\n", ""),
      // a null target_components list nulls the whole list, as the
      // reference's flatten does; a null ensembl stays a null element
      """{"id":"d2","mechanisms_of_action":[
        |  {"target_components":null},
        |  {"target_components":[{"ensembl":"G1"}]}]}""".stripMargin.replace("\n", ""),
      """{"id":"d3","mechanisms_of_action":[
        |  {"target_components":[{"ensembl":null},{"ensembl":"G3"}]}]}""".stripMargin.replace("\n", "")))
    val byId = df.collect().map(r => r.getAs[String]("drug_id") -> r).toMap
    val r = byId("d1")
    assert(r.getSeq[String](r.fieldIndex("indication_ids")) == Seq("E1", "E2"))
    assert(r.getSeq[String](r.fieldIndex("target_ids")) == Seq("G1", "G2"))
    assert(byId("d2").isNullAt(byId("d2").fieldIndex("target_ids")))
    assert(byId("d3").getSeq[String](byId("d3").fieldIndex("target_ids")) == Seq(null, "G3"))
  }

  test("targets + genesLut: go reshape and accession explode") {
    val df = Loaders.targets(jsonDf(Schemas.targets,
      """{"id":"T1","approved_symbol":"SYM","uniprot_accessions":["P1","P2"],
        |"go":[{"id":"GO:1","value":{"term":"binding"}}]}""".stripMargin.replace("\n", ""),
      // a null or partial go element keeps its slot as a struct of nulls;
      // a null go list stays null
      """{"id":"T2","go":[null,{"id":"GO:2"},{"value":{"term":"t3"}}]}""",
      """{"id":"T3","go":null}"""))
    val go = df.select(col("target_id"), col("go_terms")).collect()
      .map(r => r.getString(0) -> Option(r.getSeq[org.apache.spark.sql.Row](1))
        .map(_.map(g => (g.getAs[String]("code"), g.getAs[String]("term"))))).toMap
    assert(go("T1") == Some(Seq(("GO:1", "binding"))))
    assert(go("T2") == Some(Seq((null, null), ("GO:2", null), (null, "t3"))))
    assert(go("T3") == None)
    val lut = Loaders.genesLut(df).as[(String, String)].collect().toSet
    assert(lut == Set(("P1", "T1"), ("P2", "T1")))
  }

  test("diseases: URI tail id, ancestors flatten, descendants inversion") {
    val df = Loaders.diseases(jsonDf(Schemas.diseases,
      """{"code":"http://x/EFO_1","label":"one","path_codes":[["EFO_1"],["EFO_0","EFO_1"]]}""",
      """{"code":"http://x/EFO_0","label":"zero","path_codes":[["EFO_0"]]}"""))
    val out = df.select(col("disease_id"), col("ancestors"), col("descendants"))
      .as[(String, Seq[String], Seq[String])].collect()
      .map(r => r._1 -> ((r._2.toSet, r._3.toSet))).toMap
    assert(out("EFO_1") == ((Set("EFO_1", "EFO_0"), Set("EFO_1"))))
    assert(out("EFO_0") == ((Set("EFO_0"), Set("EFO_0", "EFO_1"))))
  }

  test("literature evidences: source filter + nested projection") {
    val df = Loaders.literatureEvidences(jsonDf(Schemas.evidences,
      """{"id":"e1","sourceID":"europepmc","disease":{"id":"D1"},"target":{"id":"T1"},"scores":{"association_score":0.7}}""",
      """{"id":"e2","sourceID":"other","disease":{"id":"D2"},"target":{"id":"T2"},"scores":{"association_score":0.9}}"""))
    val rows = df.as[(String, String, String, Double, String)].collect()
    assert(rows.toSeq == Seq(("e1", "T1", "D1", 0.7, "europepmc")))
  }

  test("genetics evidences: join, cut, variant id, sha1, trait explode") {
    val studies = Seq(("S1", Seq("D1", "D2"))).toDF("study_id", "trait_efos")
    val preds = Seq(
      ("S1", "1", 100L, "A", "G", 0.9, "T1"),
      ("S1", "2", 200L, "C", "T", 0.3, "T2") // below the 0.5 cut
    ).toDF("study_id", "chrom", "pos", "ref", "alt", "y_proba_all_features", "gene_id")
    val out = Loaders.geneticsEvidences(studies, preds)
    val rows = out.select(col("target_id"), col("disease_id"), col("datasource"))
      .as[(String, String, String)].collect().toSet
    assert(rows == Set(("T1", "D1", "genetics"), ("T1", "D2", "genetics")))
    // sha1 ids are hex, deterministic, distinct per disease
    val ids = out.select(col("evs_id")).as[String].collect()
    assert(ids.distinct.length == 2 && ids.forall(_.matches("[0-9a-f]{40}")))
  }

  test("ppi edges: optional quality filter matches the commented reference intent") {
    val raw = jsonDf(Schemas.interactions,
      """{"interactorA_uniprot_name":"P1","interactorB_uniprot_name":"P2","mi_score":0.9,"source_databases":["x"]}""",
      """{"interactorA_uniprot_name":"P3","interactorB_uniprot_name":"P4","mi_score":0.1,"source_databases":["intact","y"]}""",
      """{"interactorA_uniprot_name":"P5","interactorB_uniprot_name":"P6","mi_score":0.1,"source_databases":["x"]}""")
    assert(Loaders.ppiEdges(raw).count() == 3)
    val filtered = Loaders.ppiEdges(raw, minScore = Some(0.45))
      .as[(String, String)].collect().toSet
    assert(filtered == Set(("P1", "P2"), ("P3", "P4")))
  }

  test("expression: activity lambda keeps active tissues only") {
    val df = Loaders.expression(jsonDf(Schemas.expression,
      """{"gene":"T1","tissues":[
        |{"efo_code":"UBERON_1","rna":{"zscore":2.0},"protein":{"level":0.0}},
        |{"efo_code":"UBERON_2","rna":{"zscore":0.0},"protein":{"level":0.0}},
        |{"efo_code":"UBERON_3","rna":{"zscore":0.0},"protein":{"level":1.0}}]}""".stripMargin.replace("\n", "")))
    assert(df.select(col("active_tissues")).as[Seq[String]].head() ==
      Seq("UBERON_1", "UBERON_3"))
  }

  test("faers: struct-nested AE profiles per drug and per target") {
    val byDrug = Loaders.faersByDrug(jsonDf(Schemas.faersByDrug,
      """{"chembl_id":"d1","event":"nausea","count":10,"llr":5.0,"critval":2.0}""",
      """{"chembl_id":"d1","event":"rash","count":3,"llr":4.0,"critval":2.0}"""))
    val r = byDrug.head()
    assert(r.getAs[String]("drug_id") == "d1")
    assert(r.getSeq[org.apache.spark.sql.Row](1).map(_.getAs[String]("event")).toSet ==
      Set("nausea", "rash"))
    val byTarget = Loaders.faersByTarget(jsonDf(Schemas.faersByTarget,
      """{"target_id":"T1","event":"nausea","report_count":7,"llr":3.0,"critval":1.0}"""))
    assert(byTarget.head().getAs[String]("target_id") == "T1")
  }

  test("whitelist: explode to one row per disease") {
    val df = Loaders.whitelist(jsonDf(Schemas.whitelist,
      """{"whitelist_id":"W1","whitelist":["D1","D2"]}"""))
    assert(df.as[(String, String)].collect().toSet == Set(("W1", "D1"), ("W1", "D2")))
  }
}
