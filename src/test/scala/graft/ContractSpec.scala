package graft

/** Driver-contract integrity: the queries/oracle maps must stay in lockstep
  * — an oracle without a query is dead weight; a query without an oracle
  * silently downgrades to a rows-only check and must be an explicit,
  * documented exception.
  */
class ContractSpec extends SparkSpec {

  test("every oracle key has a matching query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("rows-only queries are exactly the documented exceptions") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // q_approx_distinct: HLL estimates are engine-specific;
    // q_evidence_sha1: DuckDB has no sha1;
    // q_agg_heavyhitters: MG counts are merge-order-dependent — the query
    //   emits only merge-order-invariant guarantees (presence + ε-bound);
    // q_text_compress_ratio: SQL has no zlib — DeflateLenSpec pins it
    assert(rowsOnly ==
      Set("q_approx_distinct", "q_evidence_sha1", "q_agg_heavyhitters",
        "q_text_compress_ratio"),
      s"undocumented rows-only queries: $rowsOnly")
  }

  test("emptyAllowed names only registered oracled queries and is " +
    "currently the empty set") {
    // The verify gate (tools/check_oracle.py) fails any oracled query
    // returning 0 rows at sf0.01 unless listed in SparkEntry.emptyAllowed
    // — r11 found two vacuous empty-vs-empty greens (q_join_anti,
    // q_text_inverted_index), since retuned to yield rows. Additions to
    // the allowlist must be deliberate: extend THIS pin with the reason.
    val unknown = SparkEntry.emptyAllowed -- SparkEntry.oracleSql.keySet
    assert(unknown.isEmpty, s"emptyAllowed entries without oracles: $unknown")
    assert(SparkEntry.emptyAllowed.isEmpty,
      s"new emptyAllowed entries need a documented reason here: " +
        SparkEntry.emptyAllowed)
  }

  test("the two r11 vacuous queries now yield rows at fixture scale") {
    // sf0.001 fixture: both were 0-row at EVERY sf before the r12 retune
    // (anti vs high-value orders: 3 rows; bigram inverted index: the
    // fixture's unigram dfs all exceeded the mid-frequency band)
    val d = "/root/testdata/sf0.001"
    assert(SparkEntry.queries("q_join_anti")(spark, d).count() > 0)
    assert(SparkEntry.queries("q_text_inverted_index")(spark, d).count() > 0)
  }

  test("query names follow the q_ snake_case convention") {
    val bad = SparkEntry.queries.keySet.filterNot(_.matches("q_[a-z0-9_]+"))
    assert(bad.isEmpty, s"non-conforming names: $bad")
  }

  test("the flagship entry query is oracle-checked") {
    assert(SparkEntry.oracleSql.contains("q_harmonic_topk"))
  }

  test("only graft.Session builds a SparkSession") {
    // every main and the test session start from graft.Session: a second
    // hand-built session is how the mains' confs drifted apart before
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src")
    val walk = java.nio.file.Files.walk(root)
    val builders =
      try walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .filter(p => "SparkSession\\.builder".r.findFirstIn(new String(
          java.nio.file.Files.readAllBytes(p), "UTF-8")).isDefined)
        .map(root.relativize(_).toString).toSet
      finally walk.close()
    assert(builders == Set("main/scala/graft/Session.scala"), builders)
  }

  test("SCALE.md holds no unfilled measurement placeholders") {
    // r9 shipped "[SF100_SEMDEDUP]"-style tokens where measured numbers
    // belonged, and the prose around them read as closed fixes — the
    // record must never claim a measurement it doesn't hold. Guard the
    // whole [SF...] placeholder convention, not one token.
    val scale = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SCALE.md")), "UTF-8")
    val hits = "\\[SF[0-9]+_[A-Z_]+\\]".r.findAllIn(scale).toList
    assert(hits.isEmpty, s"unfilled SCALE.md placeholders: $hits")
  }
}
