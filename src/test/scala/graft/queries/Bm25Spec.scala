package graft.queries

import graft.SparkSpec
import graft.llm.TextOps
import org.apache.spark.sql.functions._

/** LlmOps.bm25 — the one integer BM25 scorer of the retrieval family — on
  * hand-built worlds with hand-computed scores. Per matching term,
  * score_t = idf·(tf·2200) DIV (1000·tf + 300 + (900·dl·N) DIV L) with
  * idf = (1000000·(N−df+1)) DIV (df+1); score_fp sums score_t per unit.
  */
class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private def scores(df: org.apache.spark.sql.DataFrame) =
    df.select(col("query_id"), col("doc_id"), col("score_fp"))
      .as[(Long, Long, Long)].collect().toSet

  test("word terms: every doc sharing a query term scores by tf, df and dl") {
    // N = 3 docs, L = 3 + 3 + 2 = 8 tokens; df(a) = df(b) = 2, df(c) = 1,
    // so idf = 666666 for a and b, 1500000 for c.
    val docs = Seq((1L, "a b c"), (2L, "a a d"), (3L, "b e"))
      .toDF("doc_id", "text")
    val qterms = Seq((1L, "a"), (1L, "b"), (1L, "c")).toDF("query_id", "w")
    val got = LlmOps.bm25(docs, Seq("doc_id"), TextOps.tokens, qterms,
      dfCap = false, cacheTf = false)
    assert(scores(got) == Set(
      // a, b: 666666·2200 DIV (1000 + 300 + 8100 DIV 8 = 2312) = 634370;
      // c: 1500000·2200 DIV 2312 = 1427335
      (1L, 1L, 634370L + 634370L + 1427335L),
      // a with tf = 2: 666666·4400 DIV (2000 + 300 + 1012)
      (1L, 2L, 885667L),
      // b in a 2-token doc: 666666·2200 DIV (1300 + 5400 DIV 8 = 1975)
      (1L, 3L, 742615L)))
  }

  test("trigram terms: the df cap drops a query term with df·4 > N") {
    // N = 4 docs, L = 3 + 2 + 1 + 2 = 8 trigrams. "x y z" and "y z w"
    // have df = 2 (2·4 > 4: capped); "z w v" has df = 1 (kept).
    val docs = Seq((1L, "x y z w v"), (2L, "x y z q"), (3L, "m n o"),
      (4L, "y z w p")).toDF("doc_id", "text")
    val qterms = Seq((1L, "x y z"), (1L, "y z w"), (1L, "z w v"))
      .toDF("query_id", "w")
    def run(dfCap: Boolean) = scores(LlmOps.bm25(docs, Seq("doc_id"),
      TextOps.shingles(_, 3), qterms, dfCap, cacheTf = false))
    // "z w v": idf 2000000; 2000000·2200 DIV (1300 + 10800 DIV 8 = 2650)
    assert(run(dfCap = true) == Set((1L, 1L, 1660377L)))
    // uncapped, the df-2 terms reach docs 2 and 4 too (idf 1000000):
    // 1000000·2200 DIV (1300 + 7200 DIV 8 = 2200) = 1000000 in a 2-trigram
    // doc, 1000000·2200 DIV 2650 = 830188 in doc 1
    assert(run(dfCap = false) == Set(
      (1L, 1L, 830188L + 830188L + 1660377L), (1L, 2L, 1000000L),
      (1L, 4L, 1000000L)))
  }

  test("passages: a doc ranks by its best passage, here its second") {
    // doc 1 is 258 chars: passage 0 = chars 1-256 (65 tokens, one "r"),
    // passage 1 = chars 193-258 (17 tokens, the only "q")
    val long = "r " + "fff " * 47 + "f " + "fff " * 15 + "ffff q"
    assert(long.length == 258)
    val docs = Seq((0L, "q r"), (1L, long), (2L, "r s"))
      .map { case (id, t) => (id, t.length.toLong, t) }
      .toDF("doc_id", "n_chars", "text")
    assert(LlmOps.passages(docs).count() == 4)
    // query doc 0 (the fixed budget's doc_id % 100 = 0) asks for q, r.
    // N = 4 passages, L = 2 + 65 + 17 + 2 = 86; df(q) = 2 (idf 1000000),
    // df(r) = 3 (idf 500000). (900·dl·4) DIV 86: 83 at dl 2, 2720 at
    // dl 65, 711 at dl 17.
    //   (0, 0): q 1000000·2200 DIV 1383 + r 500000·2200 DIV 1383
    //   (1, 0): r 500000·2200 DIV 4020 = 273631 — loses to
    //   (1, 1): q 1000000·2200 DIV 2011 = 1093983
    //   (2, 0): r 500000·2200 DIV 1383 = 795372
    val got = LlmOps.passageTop3(docs, TextOps.tokens, dfCap = false)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._2)
    spark.catalog.clearCache()
    assert(got == Seq(
      (0L, 1L, 0L, 0L, 1590744L + 795372L),
      (0L, 2L, 1L, 1L, 1093983L),
      (0L, 3L, 2L, 0L, 795372L)))
  }
}
