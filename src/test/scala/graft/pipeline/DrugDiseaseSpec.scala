package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Reference-pipeline semantics on tiny literal frames: the traps listed in
  * SURVEY §7.4 — right_outer nulls (J8), reflexive propagation, array_except
  * hypotheses, AE-containment null propagation (sc:503-509).
  */
class DrugDiseaseSpec extends SparkSpec {
  import spark.implicits._

  test("networkLut translates accessions and builds sorted adjacency") {
    val edges = Seq(("P1", "P2"), ("P2", "P3")).toDF("A", "B")
    val genes = Seq(("P1", "G1"), ("P2", "G2"), ("P3", "G3")).toDF("accession", "id")
    val lut = DrugDisease.networkLut(edges, genes)
      .select(col("target_id"), col("neighbours"), col("degree"))
      .as[(String, Seq[String], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(lut("G1") == ((Seq("G2"), 1L)))
    assert(lut("G2") == ((Seq("G1", "G3"), 2L)))
    assert(lut("G3") == ((Seq("G2"), 1L)))
  }

  test("diseaseOntology flattens path_codes and inverts to descendants") {
    val diseases = Seq(
      ("D1", Seq(Seq("D1"), Seq("D0", "D1"))),
      ("D0", Seq(Seq("D0")))
    ).toDF("disease_id", "path_codes")
    val ont = graft.sources.Loaders.diseaseOntology(diseases)
      .as[(String, Seq[String], Seq[String])].collect()
      .map(r => r._1 -> ((r._2.toSet, r._3))).toMap
    assert(ont("D1") == ((Set("D1", "D0"), Seq("D1"))))
    assert(ont("D0") == ((Set("D0"), Seq("D0", "D1"))))
  }

  test("evidenceScores pivots with explicit values and fills missing with 0") {
    val evs = Seq(
      ("e1", "genetics", 0.5), ("e1", "europepmc", 0.3), ("e2", "genetics", 0.2)
    ).toDF("evs_id", "datasource", "score")
    val scores = DrugDisease.evidenceScores(evs, Seq("genetics", "europepmc"))
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(scores("e1") == ((0.5, 0.3)))
    assert(scores("e2") == ((0.2, 0.0)))
  }

  /** Per-evs_id scores joined back to the evidence rows on evs_id: the
    * rows `scoredEvidences` must give.
    */
  private def scoresJoinedBack(evs: org.apache.spark.sql.DataFrame) =
    evs.select(col("evs_id"), col("target_id"), col("disease_id"))
      .join(DrugDisease.evidenceScores(
        evs.select(col("evs_id"), col("datasource"), col("score")),
        Seq("genetics", "europepmc")), Seq("evs_id"))

  private def scoredRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("evs_id"), col("target_id"), col("disease_id"),
      col("genetics"), col("europepmc"))
      .as[(String, String, String, Double, Double)].collect().toSeq.sorted

  test("scoredEvidences: rows sharing an evs_id stay separate rows with the " +
    "same per-source scores") {
    val evs = Seq(
      ("g1", "T1", "D1", "genetics", 0.7),
      ("g1", "T2", "D1", "genetics", 0.7),
      ("e1", "T1", "D2", "europepmc", 0.4),
      ("e1", "T1", "D2", "genetics", 0.2)
    ).toDF("evs_id", "target_id", "disease_id", "datasource", "score")
    val rows = scoredRows(
      DrugDisease.scoredEvidences(evs, Seq("genetics", "europepmc")))
    assert(rows == Seq(
      ("e1", "T1", "D2", 0.2, 0.4), ("e1", "T1", "D2", 0.2, 0.4),
      ("g1", "T1", "D1", 0.7, 0.0), ("g1", "T2", "D1", 0.7, 0.0)))
    assert(rows == scoredRows(scoresJoinedBack(evs)))
  }

  test("scoredEvidences: a null evs_id drops its row; a null score and a " +
    "missing source read 0.0") {
    val evs = Seq[(String, String, String, String, java.lang.Double)](
      (null, "T1", "D1", "genetics", 0.9),
      ("e1", "T1", "D1", "europepmc", null),
      ("e2", "T2", "D1", "other", 0.5)
    ).toDF("evs_id", "target_id", "disease_id", "datasource", "score")
    val rows = scoredRows(
      DrugDisease.scoredEvidences(evs, Seq("genetics", "europepmc")))
    assert(rows == Seq(("e1", "T1", "D1", 0.0, 0.0), ("e2", "T2", "D1", 0.0, 0.0)))
    assert(rows == scoredRows(scoresJoinedBack(evs)))
  }

  /** The network LUT from Graph.undirect + two translation joins: the rows
    * `networkLut` must give.
    */
  private def undirectedLut(edges: org.apache.spark.sql.DataFrame,
                            genes: org.apache.spark.sql.DataFrame) = {
    val und = graft.ops.Graph.undirect(edges)
    val g = genes.select(col("accession"), col("id"))
    val translated = und
      .join(g, und("A") === g("accession"))
      .select(col("id").as("A_id"), col("B"))
      .join(g, col("B") === g("accession"))
      .select(col("A_id"), col("id").as("B_id"))
    graft.ops.Graph.adjacency(translated.toDF("src", "dst"))
      .withColumnRenamed("src", "target_id")
  }

  private def lutRows(lut: org.apache.spark.sql.DataFrame) =
    lut.select(col("target_id"), col("neighbours"), col("degree"))
      .as[(String, Seq[String], Long)].collect().toSet

  test("networkLut: a reciprocal duplicate edge gives one neighbour") {
    val edges = Seq(("P1", "P2"), ("P2", "P1"), ("P1", "P2")).toDF("A", "B")
    val genes = Seq(("P1", "G1"), ("P2", "G2")).toDF("accession", "id")
    val lut = lutRows(DrugDisease.networkLut(edges, genes))
    assert(lut == Set(("G1", Seq("G2"), 1L), ("G2", Seq("G1"), 1L)))
    assert(lut == lutRows(undirectedLut(edges, genes)))
  }

  test("networkLut: a neighbour whose gene id is null leaves the LUT rows " +
    "the undirect form left") {
    // P2's gene has no id: G4's only neighbour vanishes (an empty row that
    // still propagates to G4 itself) and the null id keeps its own row
    val edges = Seq(("P1", "P2"), ("P1", "P3"), ("P4", "P2")).toDF("A", "B")
    val genes = Seq[(String, String)](
      ("P1", "G1"), ("P2", null), ("P3", "G3"), ("P4", "G4")
    ).toDF("accession", "id")
    val lut = lutRows(DrugDisease.networkLut(edges, genes))
    assert(lut == Set(("G1", Seq("G3"), 1L), ("G3", Seq("G1"), 1L),
      ("G4", Seq.empty[String], 0L), (null, Seq("G1", "G4"), 2L)))
    assert(lut == lutRows(undirectedLut(edges, genes)))
  }

  test("propagate fans each evidence to neighbourhood plus self") {
    val evs = Seq(("T1", "e1")).toDF("target_id", "evs_id")
    val lut = Seq(("T1", Seq("T2", "T3"))).toDF("target_id", "neighbours")
    val prop = DrugDisease.propagate(evs, lut)
      .select(col("propagated_id")).as[String].collect().toSet
    assert(prop == Set("T1", "T2", "T3"))
  }

  test("makeAssociations: count, top-K harmonic, weighted combine, threshold") {
    val evs = Seq(
      ("T1", "D1", "e1", 1.0, 0.5),
      ("T1", "D1", "e2", 0.5, 0.0),
      ("T2", "D1", "e3", 0.01, 0.0) // harmonic 0.01 + 0 -> filtered at 0.1
    ).toDF("target_id", "disease_id", "evs_id", "genetics", "europepmc")
    val assoc = DrugDisease.makeAssociations(evs, Seq(col("target_id"), col("disease_id")))
      .select(col("target_id"), col("evidence_count"), col("harmonic"))
      .as[(String, Long, Double)].collect()
    assert(assoc.length == 1)
    val (t, n, h) = assoc.head
    assert(t == "T1" && n == 2L)
    // genetics [1.0,0.5] -> 1.125; europepmc [0.5,0.0] -> 0.5; combine:
    // lit*0.2=0.1 -> sorted [1.125, 0.1] -> 1.125 + 0.1/4
    assert(math.abs(h - 1.15) < 1e-12)
  }

  test("drugsForDisease keeps aggregation rows without drug records (right_outer)") {
    val drugs = Seq(("d1", "Aspirin", 4L)).toDF("drug_id", "drug_name", "max_clinical_trial_phase")
    val aes = Seq(("d1", Seq("headache"))).toDF("drug_id", "aes")
    val agg = Seq(("d1", "D1"), ("dX", "D1")).toDF("drug_id", "disease_id")
    val bundle = DrugDisease.drugsForDisease(drugs, aes, agg)
    val row = bundle.where(col("disease_id") === "D1").head()
    val ds = row.getSeq[Row](row.fieldIndex("drugs_for_disease"))
    assert(ds.length == 2)
    val byId = ds.map(r => r.getAs[String]("drug_id") -> r).toMap
    assert(byId("d1").getAs[String]("drug_name") == "Aspirin")
    assert(byId("dX").getAs[String]("drug_name") == null) // right-outer null fields
  }

  test("newDrugs = target drugs minus disease drugs; null disease bundle drops (sc:457,470-472)") {
    val assoc = Seq(
      ("T1", "D1",
        Seq(("d1", "n1"), ("d2", "n2")), // drugs_for_target
        Seq(("d2", "n2"))),              // drugs_for_disease
      ("T2", "D2", Seq(("d3", "n3")), null)
    ).toDF("target_id", "disease_id", "drugs_for_target", "drugs_for_disease")
      .withColumn("drugs_for_target",
        transform(col("drugs_for_target"),
          s => struct(s.getField("_1").as("drug_id"), s.getField("_2").as("drug_name"))))
      .withColumn("drugs_for_disease",
        transform(col("drugs_for_disease"),
          s => struct(s.getField("_1").as("drug_id"), s.getField("_2").as("drug_name"))))
    // Open mode: array_except against the null bundle -> null -> size gate
    // drops T2 — a disease with no existing drugs yields no hypotheses,
    // exactly as the reference's Spark 2.4 size(null) = -1 did.
    val nd = DrugDisease.newDrugs(assoc)
      .select(col("target_id"), col("new_drugs")).as[(String, Seq[String])]
      .collect().toMap
    assert(nd == Map("T1" -> Seq("d1")))
    // Whitelist mode (no size gate, sc:458): T2 survives with null new_drugs;
    // the downstream explode drops it from scoring.
    val ndWl = DrugDisease.newDrugs(assoc, dropEmpty = false)
      .select(col("target_id"), col("new_drugs")).as[(String, Seq[String])]
      .collect().toMap
    assert(ndWl("T1") == Seq("d1") && ndWl("T2") == null)
  }

  test("aeSimilarity: empty profiles score null (no ANSI divide-by-zero crash)") {
    val hyp = Seq(
      ("D1", "T1", Seq("d1"), Seq.empty[String]),    // empty disease profile
      ("D2", "T2", Seq("dEmpty"), Seq("a1"))         // empty drug profile
    ).toDF("disease_id", "target_id", "hypotheses", "disease_aes_from_drugs")
    val lut = Seq(("d1", Seq("a1")), ("dEmpty", Seq.empty[String]))
      .toDF("drug_id", "aes")
    // Under Spark 4's default ANSI mode an unguarded double division by zero
    // throws SparkArithmeticException; the guard must yield null -> dropped.
    val out = DrugDisease.scoreHypotheses(hyp, lut).collect()
    assert(out.isEmpty)
  }

  test("scoreHypotheses: containment blend; missing AE profile drops via null") {
    val hyp = Seq(
      ("D1", "T1", Seq("d1"), Seq("a1", "a2")),
      ("D2", "T2", Seq("dMissing"), Seq("a1"))
    ).toDF("disease_id", "target_id", "hypotheses", "disease_aes_from_drugs")
    val lut = Seq(("d1", Seq("a1", "a3"))).toDF("drug_id", "aes")
    val out = DrugDisease.scoreHypotheses(hyp, lut)
      .select(col("disease_id"), col("drug_hypothesis"),
        col("drug_hypothesis_disease_aes_score"))
      .as[(String, String, Double)].collect()
    // d1: s1 = 1-|{a3}|/2 = 0.5 ; s2 = 1-|{a2}|/2 = 0.5 ; 0.4*0.5+0.6*0.5
    assert(out.toSeq == Seq(("D1", "d1", 0.5)))
    // dMissing: null AE profile -> null score -> filtered (sc:509 behavior)
  }
}
