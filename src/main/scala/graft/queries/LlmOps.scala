package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Core
import graft.llm.{Dedup, TextOps, Vectors}

/** LLM training-data pipeline operators (builder-prompt extension set):
  * deduplication, text analysis, similarity search over `documents` /
  * `embeddings`. Oracle SQL is generated from the same constants (seeds,
  * stopword lists) as the Spark code so the two can never drift.
  */
object LlmOps {
  import Core.table

  type Q = (SparkSession, String) => DataFrame

  /** MinHash seeds — the hash family is md5-based so DuckDB reproduces it. */
  val MinhashSeeds: Seq[Int] = 0 until 8

  /** DuckDB rendition of Core.md5Hash64. */
  def sqlHash64(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** DuckDB rendition of Dedup's universal-hash MinHash member i over the
    * exploded shingle column w — same constants as the Spark side.
    */
  def mhSql(i: Int): String =
    s"(${Dedup.hashA(i)} * (${sqlHash64("w")} % ${Dedup.P}) + ${Dedup.hashB(i)}) % ${Dedup.P}"

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  /** Marker-word profiles for the language-ID heuristic. */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "et", "des", "un"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  /** BM25-shaped integer candidate scores of retrieval `units` — whole
    * docs (keys doc_id) or passages (keys doc_id, chunk_id; see
    * `passages`) — each carrying a `text` column split into terms by
    * `terms`. `qterms` is the (query_id, w) frame of query terms (tiny by
    * contract: it broadcasts into the term-keyed tf join, so candidates are
    * bounded by Σ_t df(t), never the corpus). Unit df/dl/N/L come from
    * `units`; N/L ride a 1-row broadcast. Scoring is all-BIGINT floor
    * division: score_t = idf_fp·(tf·2200) DIV (1000·tf + 300 +
    * (900·dl·N) DIV L) with the exact-rational idf (N−df+1)/(df+1), i.e.
    * k1 = 1.2, b = 0.75 scaled by 1000 (see q_text_bm25's rationale).
    * Returns (query_id, keys..., score_fp).
    *
    * `dfCap` applies the count-derived df·4 ≤ N guard on the QUERY side, so
    * capped-out terms never reach the candidate join — that is what makes
    * it a bound, not a post-filter (see q_text_bm25_dfcap's rationale).
    *
    * `cacheTf` is a per-caller measured choice, not a default: the doc
    * trigram tf is NOT cached (ReuseExchange already dedups its exchange
    * between the df branch and the candidate join; the columnar fill
    * measured +1.4 s at sf0.1), while the passage tf IS (~3× taller from
    * the chunk explosion, and its recompute across the df branch and the
    * candidate join is not fully reused at sf10 — uncached 52-58 s vs
    * 25-37 s cached; sf0.1 prefers uncached by ~0.9 s, the 100× behavior
    * wins the call).
    */
  private[graft] def bm25(units: DataFrame, keys: Seq[String],
      terms: Column => Column, qterms: DataFrame, dfCap: Boolean,
      cacheTf: Boolean): DataFrame = {
    val kc = keys.map(col)
    val tf0 = units.select(kc :+ explode(terms(col("text"))).as("w"): _*)
      .groupBy(kc :+ col("w"): _*)
      .agg(count(lit(1)).as("tf"))
    val tf = if (cacheTf) tf0.cache() else tf0
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val dl = units.select(kc :+ size(terms(col("text"))).cast("long").as("dl"): _*)
    val nl = units.select(size(terms(col("text"))).cast("long").as("tl"))
      .agg(count(lit(1)).as("nn"), sum(col("tl")).as("ll"))
    val qdf0 = qterms.join(df, Seq("w"))
    val qdf = if (!dfCap) qdf0 else qdf0
      .crossJoin(broadcast(nl.select(col("nn").as("nn_cap"))))
      .where(col("df") * 4 <= col("nn_cap"))
      .select(col("query_id"), col("w"), col("df"))
    tf.join(broadcast(qdf), Seq("w"))
      .join(dl, keys)
      .crossJoin(broadcast(nl))
      .withColumn("score_t",
        expr("((1000000 * (nn - df + 1)) div (df + 1)) * (tf * 2200)" +
          " div (1000 * tf + 300 + (900 * dl * nn) div ll)"))
      .groupBy(col("query_id") +: kc: _*)
      .agg(sum(col("score_t")).as("score_fp"))
  }

  /** A query's terms: the first ≤5 distinct terms of its doc's text. */
  private def queryTerms(q: DataFrame, qid: Column,
      terms: Column => Column): DataFrame =
    q.select(qid, explode(array_distinct(slice(terms(col("text")), 1, 5))).as("w"))

  /** Word-trigram terms, the df-bounded rankers' retrieval unit. */
  private val trigrams: Column => Column = TextOps.shingles(_, 3)

  /** `bm25` over whole docs against the `qids` (query_id) docs. */
  private def docBm25(docs0: DataFrame, qids: DataFrame, terms: Column => Column,
      dfCap: Boolean, cacheTf: Boolean): DataFrame = {
    // spread: four branches of bm25 re-split the text (Core.spread doc)
    val docs = Core.spread(docs0)
    bm25(docs, Seq("doc_id"), terms,
      queryTerms(docs.join(broadcast(qids), col("doc_id") === col("query_id")),
        col("query_id"), terms),
      dfCap, cacheTf)
  }

  /** The retrieval family's per-query rank order: score desc, doc_id. */
  private val byScore = Window.partitionBy(col("query_id"))
    .orderBy(col("score_fp").desc, col("doc_id"))

  /** A doc ranker's top-10 per query over the fixed query budget. */
  private def docTop10(docs: DataFrame, terms: Column => Column,
      dfCap: Boolean, cacheTf: Boolean): DataFrame = {
    docBm25(docs, queryDocs(docs).select(col("doc_id").as("query_id")), terms,
        dfCap, cacheTf)
      .withColumn("rn", row_number().over(byScore).cast("long"))
      .where(col("rn") <= 10)
      .select(col("query_id"), col("rn"), col("doc_id"), col("score_fp"))
  }

  /** FIXED query budget of the retrieval family: doc_id < 5000 caps the
    * query set at 50 however large the corpus grows (production retrieval
    * serves a bounded query load against a growing corpus; a query set
    * scaling WITH the corpus would make the workload quadratic by
    * construction — the first smoke of q_text_bm25 measured exactly that
    * and this cap is the fix, SCALE.md "bm25" row).
    */
  private def queryDocs(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") % 100 === 0 && col("doc_id") < 5000)

  private val Stride = 192
  private val PassageLen = 256

  /** Sliding-window passages, the RAG unit: every non-empty doc splits
    * into PassageLen-char windows at a Stride-char stride —
    * (doc_id, chunk_id, n_chars, text). A per-row generate, no shuffle.
    */
  private[graft] def passages(docs: DataFrame): DataFrame =
    docs.where(col("n_chars") > 0)
      .withColumn("k", explode(sequence(lit(0L),
        expr(s"(n_chars + ${Stride - 1}) div $Stride") - 1)))
      .select(col("doc_id"), col("k").as("chunk_id"), col("n_chars"),
        col("text").substr((col("k") * Stride + 1).cast("int"), lit(PassageLen))
          .as("text"))

  /** Passage retrieval's ranking: `bm25` at PASSAGE granularity (cached
    * passage tf), each doc's best passage (a long doc must not flood the
    * result list), then the top-3 passages per query. Both windows
    * partition on query-bounded frames.
    */
  private[graft] def passageTop3(docs: DataFrame, terms: Column => Column,
      dfCap: Boolean): DataFrame = {
    val scored = bm25(passages(docs), Seq("doc_id", "chunk_id"), terms,
      queryTerms(queryDocs(docs), col("doc_id").as("query_id"), terms),
      dfCap, cacheTf = true)
    val wDoc = Window.partitionBy(col("query_id"), col("doc_id"))
      .orderBy(col("score_fp").desc, col("chunk_id"))
    scored
      .withColumn("rd", row_number().over(wDoc))
      .where(col("rd") === 1)
      .withColumn("rn", row_number().over(byScore).cast("long"))
      .where(col("rn") <= 3)
      .select(col("query_id"), col("rn"), col("doc_id"),
        col("chunk_id"), col("score_fp"))
  }

  /** MinHash signatures of docs' word-trigram sets (doc_id, text). */
  private def docSigs(docs: DataFrame): DataFrame =
    Dedup.minhashSigs(docs, "doc_id", "text", 3, MinhashSeeds)

  /** The dedup family's LSH candidate pairs: 4 bands × 2 rows. */
  private def lshPairs(sigs: DataFrame): DataFrame =
    Dedup.lshCandidatePairs(sigs, "doc_id", bands = 4, rowsPerBand = 2)

  /** The LSH near-dup edge set of the dedup family: 4 bands × 2 rows
    * candidates with est_jaccard ≥ 0.5, as (doc1, doc2). Cached: each
    * propagation round re-joins the edge set — without it the whole LSH
    * lineage would re-run once per round. Whether `sigs` is cached stays
    * the caller's choice.
    */
  private def nearDupEdges(sigs: DataFrame): DataFrame =
    lshPairs(sigs)
      .where(col("est_jaccard") >= 0.5)
      .select(col("doc1"), col("doc2"))
      .cache()

  /** The decontamination reference grams: src0's DISTINCT 5-gram shingles,
    * one cached pass (spread: the shingle split is the scan-side cost,
    * Core.spread doc). Bloom insertion is idempotent (set bits), so the
    * bitset from distinct grams is the oracle's per-doc bitset exactly
    * (r15); the pass feeds the bloom agg, the exact-verify broadcast and
    * any sizing count, where the old forms shingled src0 two-three times.
    */
  private def deconRefGrams(docs: DataFrame): DataFrame =
    Core.spread(docs.where(col("source") === "src0"))
      .select(explode(array_distinct(TextOps.shingles(col("text"), 5))).as("g"))
      .distinct()
      .cache()

  /** Bloom prefilter + exact verify of every non-src0 doc's distinct
    * 5-grams against `refGrams`: one m-bit, k-hash bitset over the
    * reference grams broadcast and probed at the scan (codegen'd
    * built-ins, no join), then ONLY the bloom survivors exact-verified
    * against the broadcast reference grams. The corpus never shuffles
    * before the per-doc count. Hashes are md5-based so the DuckDB twins
    * rebuild the identical bitset. Returns (doc_id, n_bloom_hits,
    * n_verified).
    */
  private def deconBloom(docs: DataFrame, refGrams: DataFrame, m: Int,
      k: Int): DataFrame = {
    def hashes(g: Column) = Seq(Core.md5Hash64(g).as("h1"),
      Core.md5Hash64(concat(lit("bl|"), g)).as("h2"))
    val bits = refGrams.select(hashes(col("g")): _*)
      .agg(graft.functions.BloomAgg.bloom(col("h1"), col("h2"), m, k)
        .as("bloom_bits"))
    Core.spread(docs.where(col("source") =!= "src0"))
      .select(col("doc_id"),
        explode(array_distinct(TextOps.shingles(col("text"), 5))).as("g"))
      .select(col("doc_id") +: col("g") +: hashes(col("g")): _*)
      .crossJoin(broadcast(bits))
      .where(graft.ops.Bloom.mightContainHashes(
        col("bloom_bits"), col("h1"), col("h2"), m, k))
      .select(col("doc_id"), col("g"))
      .join(broadcast(refGrams.withColumn("v", lit(1L))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bloom_hits"),
        sum(coalesce(col("v"), lit(0L))).as("n_verified"))
  }

  /** Build-once store at the `label` scratch root: `build(root)` runs only
    * while the root has no `_STORE_COMPLETE` marker, so repeat runs in one
    * JVM pay only the probe/walk. The marker goes through the Hadoop FS of
    * the root path, matching how the stores themselves are written and
    * read — a java.io.File check was only consistent while the scratch
    * root lived on the local filesystem (r14). Returns the root.
    */
  private[queries] def storeOnce(s: SparkSession, d: String, label: String)(
      build: String => Unit): String = {
    val root = Relational.scratchPath(s, d, label)
    val marker = new org.apache.hadoop.fs.Path(s"$root/_STORE_COMPLETE")
    val fs = marker.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      build(root)
      fs.create(marker, true).close()
    }
    root
  }

  /** A stored screen's arrival micro-batch: the non-src0 docs picked by a
    * count-derived `salt`ed hash (~100 docs) — a serving batch scales with
    * INGEST load, never the corpus, so collecting its keys to the driver is
    * the same driver-bounded contract as a beam frontier.
    */
  private def arrivalBatch(docs: DataFrame, salt: String): DataFrame = {
    val arrivals = docs.where(col("source") =!= "src0")
    val mod = math.max(1L, arrivals.count() / 100)
    arrivals.where(pmod(Core.md5Hash64(concat(lit(salt),
      col("doc_id").cast("string"))), lit(mod)) === 0)
  }

  /** nDCG@10 rank-discount weights as FIXED-POINT integers,
    * W_r = round(10⁶/log₂(r+1)), plus their prefix sums (ideal-DCG
    * lookup). Computed ONCE here and interpolated into the oracle SQL as
    * literals (the Planes pattern), so neither engine re-derives a log —
    * DCG sums are exact integer arithmetic and the only doubles in the
    * eval are two single correctly-rounded divisions per query.
    */
  private[graft] val NdcgW: Seq[Long] =
    (1 to 10).map(r => Math.round(1e6 / (Math.log(r + 1.0) / Math.log(2.0))))
  private[graft] val NdcgCum: Seq[Long] = NdcgW.scanLeft(0L)(_ + _).tail

  val queries: Map[String, Q] = Map(
    // Exact dedup: content-hash groupBy, keep lowest doc_id. One shuffle on
    // the 128-bit digest — the canonical 100 TB exact-dedup plan.
    "q_dedup_exact" -> ((s, d) => {
      table(s, d, "documents")
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
    }),

    // MinHash signatures: 8 hashes over distinct 3-gram shingles (unigram
    // sets over a small vocab collide into one bucket; trigrams are
    // discriminative). One explode + one partial-aggregated groupBy: the
    // shuffle carries 8 longs per (doc, partition), never the shingles.
    "q_dedup_minhash_sig" -> ((s, d) => docSigs(table(s, d, "documents"))),

    // LSH candidate pairs: 4 bands × 2 rows; docs sharing any band bucket
    // become a candidate pair; est_jaccard = matching minhashes / 8.
    "q_dedup_minhash_pairs" -> ((s, d) => {
      val sigs = docSigs(table(s, d, "documents")).cache()
      lshPairs(sigs)
    }),

    // Full near-dup pipeline: LSH candidates → exact trigram Jaccard. The
    // shingle explode is computed once and cached — signatures, sizes, and
    // the intersection join all reuse it (5 consumers otherwise).
    "q_dedup_jaccard_verify" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val sh = Dedup.shingleTable(docs, "doc_id", "text", 3).cache()
      val sigs = Dedup.minhashSigsFromShingles(sh, "doc_id", MinhashSeeds)
      val pairs = lshPairs(sigs).select(col("doc1"), col("doc2"))
      Dedup.jaccardForPairs(pairs, sh, "doc_id")
    }),

    // Asymmetric containment verify (Dedup.containmentForPairs): for each
    // LSH candidate pair, |∩|/|A| and |∩|/|B| — the doc-inside-doc signal
    // symmetric Jaccard misses. Same candidate-bounded cost as the
    // Jaccard verify, same shared shingle table.
    "q_dedup_containment" -> ((s, d) => {
      val docs = Core.spread(table(s, d, "documents"))
      val sh = Dedup.shingleTable(docs, "doc_id", "text", 3).cache()
      val sigs = Dedup.minhashSigsFromShingles(sh, "doc_id", MinhashSeeds)
      val pairs = lshPairs(sigs).select(col("doc1"), col("doc2"))
      Dedup.containmentForPairs(pairs, sh, "doc_id")
    }),

    // EXACT similarity self-join via prefix filtering (AllPairs/PPJoin,
    // Bayardo WWW'07) — the lossless alternative to MinHash-LSH: rarest-
    // first df ordering, join on prefix shingles only, candidate-bounded
    // verify. Because the filter has NO false negatives, the oracle is
    // simply the brute-force all-pairs definition — the query's equality
    // to it IS the losslessness proof on this corpus. τ = 3/5 held as a
    // rational so both engines compare integers, never doubles.
    "q_dedup_prefix_filter" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val sh = Dedup.shingleTable(docs, "doc_id", "text", 3).cache()
      Dedup.exactSimilarPairs(sh, "doc_id", 3, 5)
    }),

    // LSH screen QUALITY audit — one row quantifying the screen the whole
    // near-dup family rests on. Truth = the lossless prefix-filter join at
    // τ = 1/2 (the same bar the pipelines apply to est_jaccard); against
    // it, the banded candidates and the est-filtered flags yield
    // recall (what the screen loses — banding misses + estimator
    // misranks) and precision (what the exact-verify stage must re-check).
    // This is the recall-gate pattern the ANN family already has
    // (q_sim_ann_recall / q_sim_pq_recall), applied to MinHash-LSH.
    // Scale shape: both sides are candidate-bounded joins; the audit row
    // is four tiny aggs cross-joined (all 1-row broadcasts).
    "q_dedup_lsh_quality" -> ((s, d) => {
      val sh = Dedup
        .shingleTable(table(s, d, "documents"), "doc_id", "text", 3).cache()
      val truth = Dedup.exactSimilarPairs(sh, "doc_id", 1, 2)
        .select(col("doc1"), col("doc2"), lit(1).as("t"))
      val sigs = Dedup.minhashSigsFromShingles(sh, "doc_id", MinhashSeeds)
      val cand = Dedup
        .lshCandidatePairs(sigs, "doc_id", bands = 4, rowsPerBand = 2)
        .select(col("doc1"), col("doc2"), col("est_jaccard"), lit(1).as("c"))
      // ONE pass over each side (r15, the recallGate shape): the old
      // four-branch crossJoin planned the exactSimilarPairs truth TWICE
      // (n_true + n_hit) and the candidate set three times (89-Exchange
      // plan); both pair sets are unique on (doc1, doc2), so a full-outer
      // join + one agg computes all four counts with each lineage planned
      // once. A null est_jaccard (truth-only row) fails the >= filter in
      // both engines, so n_flag/n_hit are unchanged.
      cand.join(truth, Seq("doc1", "doc2"), "full_outer")
        .agg(
          count(col("t")).as("n_true"),
          count(col("c")).as("n_cand"),
          count(when(col("est_jaccard") >= 0.5, 1)).as("n_flag"),
          count(when(col("est_jaccard") >= 0.5 && col("t").isNotNull, 1))
            .as("n_hit"))
        .select(col("n_true"), col("n_cand"), col("n_flag"), col("n_hit"),
          when(col("n_flag") > 0,
            round(col("n_hit") / col("n_flag").cast("double"), 4)).as("prec"),
          when(col("n_true") > 0,
            round(col("n_hit") / col("n_true").cast("double"), 4)).as("rec"))
    }),

    // Dedup clustering: LSH candidates above the similarity bar collapse
    // into connected components; each doc maps to its cluster's canonical
    // keeper (min doc_id). 4 label-propagation iterations bound the handled
    // cluster diameter — mirrored exactly in the oracle's chained CTEs.
    "q_dedup_components" -> ((s, d) => {
      val sigs = docSigs(table(s, d, "documents")).cache()
      val pairs = nearDupEdges(sigs)
      Dedup.components(pairs, iters = 4)
    }),

    // Checkpoint-per-round A/B twin of q_dedup_components: identical
    // labels (the checkpoint is a materialization boundary, not a
    // semantic change — same oracle), but each propagation round runs as
    // its own action so round N's edge-join shuffle files are
    // reclaimable before round N+1 starts. At 1000x the lazy 4-round
    // action retains the sum of all rounds' shuffles; this variant's
    // peak disk is one round's. Wall A/B at sf10/sf100 lives in SCALE.md.
    "q_dedup_components_ckpt" -> ((s, d) => {
      val sigs = docSigs(table(s, d, "documents")).cache()
      val pairs = nearDupEdges(sigs)
      Dedup.components(pairs, iters = 4, checkpointEvery = 1)
    }),

    // Leakage-safe train/eval split — the dedup-aware sampling step every
    // eval-honest training pipeline needs: a doc-hash split puts one
    // member of a near-dup cluster in train and its twin in eval, leaking
    // the eval set into training. Here the SPLIT KEY IS THE CLUSTER
    // (LSH → est-Jaccard ≥ 0.5 → min-label components; singletons are
    // their own cluster), so a near-dup pair can never straddle. Output
    // is one summary row: per-split doc/cluster counts plus
    // n_cross_pairs — the straddle count, 0 BY CONSTRUCTION, and the
    // oracle independently recomputes that 0 from its own clustering.
    // Scale shape: the dedup family's existing stages + one hash on the
    // cluster id; the split adds no new shuffle.
    "q_sample_cluster_split" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val sigs = docSigs(docs).cache()
      val pairs = nearDupEdges(sigs)
      val clustered = docs.select(col("doc_id"))
        .join(Dedup.components(pairs, iters = 4), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"))
      val split = clustered.select(col("doc_id"), col("cluster"),
        when(pmod(Core.md5Hash64(
          concat(lit("split|"), col("cluster").cast("string"))), lit(10)) < 8,
          lit("train")).otherwise(lit("eval")).as("split"))
        .cache()
      // scalar aggregates, not crossJoined filtered sides: a filtered
      // side with zero rows would make the WHOLE summary 0 rows where
      // the oracle's scalar subqueries still emit 1 row with NULLs for
      // the empty side; when(cnt > 0, ...) reproduces those NULLs
      // (cnt = 0 iff the side is empty).
      val sides = split.agg(
          count(when(col("split") === "train", 1)).as("tn"),
          countDistinct(when(col("split") === "train", col("cluster"))).as("tc"),
          count(when(col("split") === "eval", 1)).as("en"),
          countDistinct(when(col("split") === "eval", col("cluster"))).as("ec"))
        .select(
          when(col("tn") > 0, col("tn")).as("n_train_docs"),
          when(col("tn") > 0, col("tc")).as("n_train_clusters"),
          when(col("en") > 0, col("en")).as("n_eval_docs"),
          when(col("en") > 0, col("ec")).as("n_eval_clusters"))
      val cross = pairs
        .join(split.select(col("doc_id").as("doc1"), col("split").as("s1")),
          Seq("doc1"))
        .join(split.select(col("doc_id").as("doc2"), col("split").as("s2")),
          Seq("doc2"))
        .agg(count(when(col("s1") =!= col("s2"), true)).as("n_cross_pairs"))
      sides.crossJoin(cross)
    }),

    // Same clustering, different algorithm: alternating large-star /
    // small-star rounds (Kiveris SoCC'14) rewrite the EDGE SET until it is
    // a forest of stars centered at component minima — O(log² n) rounds
    // vs label propagation's O(diameter), the variant a 100 TB run picks
    // when cluster chains are deep (see Dedup.componentsTwoStar). Oracle
    // and output contract identical to q_dedup_components; equality of the
    // two rows on the record is the algorithm-equivalence proof at fixture
    // scale (DedupSpec pins it on adversarial chains past the fixed-iter
    // variant's diameter bound).
    "q_dedup_cc_twostar" -> ((s, d) => {
      val sigs = docSigs(table(s, d, "documents")).cache()
      val pairs = nearDupEdges(sigs)
      val out = Dedup.componentsTwoStar(pairs)
      pairs.unpersist(blocking = false)
      sigs.unpersist(blocking = false)
      out
    }),

    // Multi-pass blocking entity resolution — the production ER recipe
    // (Papadakis et al. survey): UNION complementary blocking passes, then
    // verify once. LSH (hash blocking — catches scattered token overlap)
    // ∪ sorted-neighborhood (order blocking — catches shared-prefix pairs
    // banding can miss when signature agreement dips), exact-Jaccard
    // verify on the union, min-label components for the entity clusters.
    // Each pass is its own verified operator elsewhere in this file; the
    // composition adds one distinct + the shared verify, and the shingle
    // table is cached across signature build and verify.
    "q_dedup_multipass" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val sh = Dedup.shingleTable(docs, "doc_id", "text", 3).cache()
      val sigs = Dedup.minhashSigsFromShingles(sh, "doc_id", MinhashSeeds)
      val lsh = lshPairs(sigs).select(col("doc1"), col("doc2"))
      val rn = docs.select(col("doc_id"), col("lang"),
          substring(col("text"), 1, 8).as("blk"), col("text"))
        .select(col("doc_id"), col("lang"), col("blk"),
          row_number().over(Window.partitionBy(col("lang"), col("blk"))
            .orderBy(col("text"), col("doc_id"))).cast("long").as("rn"))
      val snm = rn.as("a").join(rn.as("b"),
          col("a.lang") === col("b.lang") && col("a.blk") === col("b.blk") &&
            col("b.rn") > col("a.rn") && col("b.rn") <= col("a.rn") + lit(3L))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc1"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc2"))
      val cand = lsh.unionByName(snm).distinct()
      val verified = Dedup.jaccardForPairs(cand, sh, "doc_id")
        .where(col("jaccard") >= 0.5)
        .select(col("doc1"), col("doc2"))
        .cache()
      Dedup.components(verified, iters = 4)
    }),

    // Benchmark decontamination: corpus docs sharing an LSH band bucket
    // with a reference set (here: source 'src0' plays the held-out
    // benchmark). The bipartite join never pairs corpus×corpus — at real
    // scale the benchmark's band table is broadcast-sized, so screening a
    // 100 TB corpus costs one scan + one broadcast join.
    "q_dedup_decontaminate" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val corpusSigs = docSigs(docs.where(col("source") =!= "src0"))
      val refSigs = docSigs(docs.where(col("source") === "src0"))
      Dedup.lshCandidatesAcross(corpusSigs, refSigs, "doc_id",
        bands = 4, rowsPerBand = 2)
    }),

    // Fixpoint variant of the same clustering: label propagation until no
    // label changes (componentsFixpoint — handles any cluster diameter,
    // localCheckpoint lineage cuts). On this fixture every cluster's
    // diameter is < 4, so the 4-iteration oracle SQL is already at fixpoint
    // and both variants legitimately share it; the deep-chain behavior
    // difference is spec-tested (DedupSpec).
    "q_dedup_components_fp" -> ((s, d) => {
      val sigs = docSigs(table(s, d, "documents"))
      val pairs = nearDupEdges(sigs)
      Dedup.componentsFixpoint(pairs)
    }),

    // Within-document repetition signals (Gopher-style): the fraction of
    // bigram mass taken by the single most repeated bigram, and the
    // distinct-bigram fraction — high top-fraction / low distinct-fraction
    // marks boilerplate loops and keyboard-mash. Two hash aggregations,
    // both partial-aggregated map-side.
    "q_text_repetition" -> ((s, d) => {
      val bi = Core.spread(table(s, d, "documents"))
        .select(col("doc_id"), explode(TextOps.shingles(col("text"), 2)).as("g"))
      bi.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("c")).as("n_bigrams"),
          round(max(col("c")).cast("double") / sum(col("c")), 6).as("top_bigram_frac"),
          round(count(lit(1)).cast("double") / sum(col("c")), 6).as("distinct_frac"))
    }),

    // Unigram LM quality score (CCNet-style): train token frequencies on
    // the corpus itself, score each document by its mean token log10
    // probability — low-probability-token documents (gibberish, boilerplate
    // soup) surface at the bottom. Two aggregations + one token-frequency
    // join; the corpus total rides a 1-row broadcast.
    // Data-dependent quality gating: the filter threshold is a CORPUS
    // STATISTIC (P25 of per-doc token count), not a hand constant — the
    // calibration step a production gate re-runs when corpus composition
    // drifts (new crawl, new source mix). Same two-pass floor as
    // q_sample_temperature: a tiny exact-percentile agg, the one-row
    // threshold broadcast back, one filtered pass. Exact percentile ↔
    // DuckDB quantile_cont (both linear interpolation; integer inputs ×
    // dyadic fractions are FP-exact).
    "q_text_quality_calibrated" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
      val thr = docs.agg(expr("percentile(n_toks, 0.25)").as("p25"))
      docs.crossJoin(broadcast(thr))
        .where(col("n_toks").cast("double") >= col("p25"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), min(col("n_toks")).as("min_kept_toks"))
    }),

    // CCNet-style head/middle/tail bucketing, PER LANGUAGE (arXiv:1911.00359
    // splits each language's crawl by perplexity percentile; per-doc token
    // count stands in as the score — integer, so bucket-edge comparisons
    // can't flip on an engine ulp the way a float perplexity could). The
    // scale-correct shape: thresholds from one lang-keyed percentile agg
    // broadcast back, bucket assignment a per-row CASE — no ntile, which
    // would global-sort every language partition. P25/P75 are dyadic, so
    // linear interpolation over integer inputs is FP-exact in both engines
    // (same contract as q_text_quality_calibrated). At 100 TB the exact
    // percentile (which buffers the group's values) swaps for
    // approx_percentile — same plan shape, mergeable sketch buffer.
    "q_text_ccnet_buckets" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
      val thr = docs.groupBy(col("lang"))
        .agg(expr("percentile(n_toks, 0.25)").as("p25"),
          expr("percentile(n_toks, 0.75)").as("p75"))
      docs.join(broadcast(thr), Seq("lang"))
        .withColumn("bucket",
          when(col("n_toks").cast("double") <= col("p25"), lit("tail"))
            .when(col("n_toks").cast("double") <= col("p75"), lit("middle"))
            .otherwise(lit("head")))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("sum_toks"))
    }),

    // Token-distribution entropy per doc (H = log2 n − Σ c·log2 c / n):
    // the quality gate for templated/boilerplate text — a doc that
    // repeats a 10-word banner 50× scores ~3.3 bits vs ~7+ for prose,
    // orthogonal to q_text_repetition's top-bigram fraction. Two
    // map-side-partial hash aggs, no shuffle beyond them. round(4): the
    // Σ c·log2 c sum order differs between engines (documented FP
    // contract, same as the cosine family).
    "q_text_entropy" -> ((s, d) => {
      table(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_toks"),
          round(log2(sum(col("c")))
            - sum(col("c").cast("double") * log2(col("c"))) / sum(col("c")),
            4).as("entropy"))
    }),

    "q_text_lm_score" -> ((s, d) => {
      val toks = table(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
      val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("wn"))
      val tot = freq.agg(sum(col("wn")).cast("double").as("tot"))
      toks.join(freq, Seq("w"))
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(
          round(avg(log10(col("wn").cast("double") / col("tot"))), 4).as("avg_logprob"),
          count(lit(1)).as("n_tokens"))
    }),

    // Trained quality classifier (the fastText/DCLM-style filtering step):
    // multinomial Naive Bayes with add-one smoothing, weak-supervised by
    // lang='en'. Training IS aggregation — per-token class counts — so the
    // "model" is a vocab-sized weight table (one ln per token, computed as
    // a single ratio of exact integer products) broadcast back over the
    // exploded corpus. Per-token weights are fixed-point micronats
    // (round(ln·1e6) → bigint), so each doc's score is an exact integer
    // sum under ANY summation order — hash-exact across engines, where a
    // double sum could flip the 6dp rounding. Corpus-side work is one
    // explode + one broadcast join + one per-doc agg; nothing but the
    // (doc_id, token) stream ever shuffles.
    "q_text_nb_classifier" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val toks = docs.select(col("doc_id"), (col("lang") === "en").as("pos"),
        explode(TextOps.tokens(col("text"))).as("w"))
      val cnt = toks.groupBy(col("w")).agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("c_neg"))
      val tot = cnt.agg(sum(col("c_pos")).as("tp"), sum(col("c_neg")).as("tn"),
        count(lit(1)).as("v"))
      val wts = cnt.crossJoin(broadcast(tot))
        .select(col("w"),
          round(log(((col("c_pos") + 1).cast("double") * (col("tn") + col("v"))) /
            ((col("c_neg") + 1).cast("double") * (col("tp") + col("v")))) * 1e6)
            .cast("long").as("wt"))
      val pri = docs.agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("np"),
          sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("nn"))
        .select(round(log(col("np").cast("double") / col("nn")) * 1e6)
          .cast("long").as("prior"))
      toks.join(broadcast(wts), Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("wt")).as("score_fp"))
        .crossJoin(broadcast(pri))
        .select(col("doc_id"), col("n_tokens"),
          round((col("prior") + col("score_fp")) / lit(1e6), 6).as("nb_score"),
          ((col("prior") + col("score_fp")) > 0).as("pred_en"))
    }),

    // Compression-ratio quality gate (the Gopher/DCLM "compressibility"
    // filter): deflate(text)/raw bytes. Catches LONG-range templating the
    // token-entropy gate can't see (entropy reads the unigram histogram;
    // boilerplate repeats whole sentences). Rows-only by contract — SQL
    // has no zlib — semantics pinned by DeflateLenSpec; the signal rides
    // the codegen'd graft_deflate_len expression (a per-thread Deflater,
    // no UDF serialization), so the scan stays one whole-stage pass.
    "q_text_compress_ratio" -> ((s, d) => {
      val z = org.apache.spark.sql.graft.GraftSql.deflateLen(col("text"))
      table(s, d, "documents")
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          z.as("z_bytes"))
        .select(col("doc_id"), col("n_bytes"), col("z_bytes"),
          when(col("n_bytes") > 0,
            round(col("z_bytes").cast("double") / col("n_bytes"), 4))
            .as("ratio"),
          (col("z_bytes") * 4 < col("n_bytes")).as("flag_templated"))
    }),

    // Sorted-neighborhood dedup (Hernández & Stolfo SIGMOD'95) — the
    // sort-based blocking family, complementing hash blocking (LSH) and
    // prefix filtering: records sorted by a fuzzy key compare only within
    // a sliding window of w positions. Expressed scale-first as
    // blocking + in-block SNM: the coarse key (lang, first 8 chars)
    // partitions, row_number orders within each block by (text, doc_id)
    // — KEYED windows only, never a global sort — and the w-window pairs
    // come from a bounded self-join on block + position distance. Exact
    // Jaccard verifies candidates (pair-bounded). Deterministic: the sort
    // key embeds the unique doc_id tiebreak, so the window content — and
    // therefore the candidate set — is engine-independent.
    "q_dedup_sorted_neighborhood" -> ((s, d) => {
      val w = 4 // SNM window: compare each record to the next w-1
      val docs = table(s, d, "documents")
      val keyed = docs.select(col("doc_id"),
        col("lang"), substring(col("text"), 1, 8).as("blk"),
        col("text"))
      val rn = keyed.select(col("doc_id"), col("lang"), col("blk"),
        row_number().over(Window.partitionBy(col("lang"), col("blk"))
          .orderBy(col("text"), col("doc_id"))).cast("long").as("rn"))
      val pairs = rn.as("a").join(rn.as("b"),
          col("a.lang") === col("b.lang") && col("a.blk") === col("b.blk") &&
            col("b.rn") > col("a.rn") &&
            col("b.rn") <= col("a.rn") + lit(w - 1L))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc1"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc2"))
      val sh = Dedup.shingleTable(docs, "doc_id", "text", 3)
      Dedup.jaccardForPairs(pairs, sh, "doc_id")
        .where(col("jaccard") >= 0.5)
    }),

    // PMI collocation extraction (Church & Hanks, CL'90) — the classic
    // "which word pairs co-occur more than chance" lexicon builder.
    // PMI = ln(c12·N / (cL·cR)) with cL/cR the first/second-position
    // MARGINALS of the bigram-count table, so the probability space is
    // self-consistent and every count is an exact integer. The corpus
    // sees ONE explode + ONE groupBy; marginals and N are re-aggregations
    // of the (vocab²-bounded) bigram-count table, never a second corpus
    // scan — the same re-agg trick as tfidf's df. Scores are fixed-point
    // micronats (round(ln·1e6) → bigint), the nb_classifier contract:
    // identical integers on both engines, then one exact division out.
    "q_text_pmi" -> ((s, d) => {
      val big = Core.spread(table(s, d, "documents"))
        .select(explode(TextOps.shingles(col("text"), 2)).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("c12"))
        .select(
          element_at(split(col("g"), " "), 1).as("w1"),
          element_at(split(col("g"), " "), 2).as("w2"), col("c12"))
        .cache() // 4 consumers: both marginals, N, and the scored output
      val cl = big.groupBy(col("w1")).agg(sum(col("c12")).as("c_l"))
      val cr = big.groupBy(col("w2")).agg(sum(col("c12")).as("c_r"))
      val n = big.agg(sum(col("c12")).as("nn"))
      big.where(col("c12") >= 3)
        .join(broadcast(cl), Seq("w1"))
        .join(broadcast(cr), Seq("w2"))
        .crossJoin(broadcast(n))
        .select(col("w1"), col("w2"), col("c12"), col("c_l"), col("c_r"),
          // cast BEFORE multiplying: c12·N at corpus scale overflows
          // bigint (ANSI would throw); the doubles stay exact at any
          // oracle scale (products ≪ 2^53) so both engines agree bitwise
          (round(log(col("c12").cast("double") * col("nn") /
            (col("c_l").cast("double") * col("c_r"))) * 1e6).cast("long") /
            lit(1000000.0)).as("pmi"))
    }),

    // χ² term-class association — feature selection for trained quality
    // classifiers (the step between q_text_nb_classifier's counts and a
    // compact model): 2×2 contingency of token × weak label,
    // χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)). With d = tn−b, c = tp−a the
    // cross term folds to a·tn − b·tp. All arithmetic rides decimal(38,0)
    // (HUGEINT on the oracle side), so the final double is a quotient of
    // exactly-agreed integers — deterministic at any corpus size. Same
    // one-explode/one-groupBy corpus cost as the NB trainer.
    "q_text_chi2_terms" -> ((s, d) => {
      val toks = table(s, d, "documents")
        .select((col("lang") === "en").as("pos"),
          explode(TextOps.tokens(col("text"))).as("w"))
      val cnt = toks.groupBy(col("w")).agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("b"))
      val tot = cnt.agg(sum(col("a")).as("tp"), sum(col("b")).as("tn"))
      def dd(c: Column) = c.cast("decimal(38,0)")
      val delta = dd(col("a")) * dd(col("tn")) - dd(col("b")) * dd(col("tp"))
      val num = (dd(col("tp")) + dd(col("tn"))) * delta * delta
      val den = (dd(col("a")) + dd(col("b"))) *
        (dd(col("tp")) + dd(col("tn")) - dd(col("a")) - dd(col("b"))) *
        dd(col("tp")) * dd(col("tn"))
      cnt.crossJoin(broadcast(tot))
        .select(col("w"), col("a"), col("b"),
          when(den > 0, round(num.cast("double") / den.cast("double"), 4))
            .as("chi2"))
    }),

    // Deterministic hash split — the reproducible train/val/test assignment
    // every training-data pipeline needs: bucket = md5(doc_id) mod 100, so
    // membership is stable across runs, engines, and partitionings (RNG
    // sampling is none of those). 80/10/10; checked exactly by the oracle.
    "q_sample_split" -> ((s, d) => {
      val h = Core.md5Hash64(concat(lit("split|"), col("doc_id").cast("string"))) % 100
      table(s, d, "documents")
        .withColumn("split",
          when(h < 80, "train").when(h < 90, "val").otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),

    // Canonical-doc selection — the step after dedup clustering: per
    // cluster keep ONE representative (longest doc, ties to the smallest
    // id). max_by over a struct ordering instead of a row_number window:
    // an aggregate combines map-side and never sorts whole partitions,
    // the scalable argmax shape.
    "q_dedup_canonical" -> ((s, d) => {
      val sigs = docSigs(Core.spread(table(s, d, "documents"))).cache()
      val pairs = nearDupEdges(sigs)
      Dedup.components(pairs, iters = 4)
        .join(table(s, d, "documents").select(col("doc_id"), col("n_chars")),
          Seq("doc_id"))
        .groupBy(col("cluster"))
        .agg(
          // Struct ordering gives the longest-doc / smallest-id tiebreak
          // directly — the earlier n_chars*1e8 - doc_id packing silently
          // broke once doc_id >= 1e8 (and both engines drifted identically,
          // so the hash oracle could not catch it).
          expr("max_by(doc_id, struct(n_chars, -doc_id))").as("keep_doc"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // Sliding-window document chunking: every doc splits into fixed-size
    // chunks at a fixed stride (overlap = size − stride), the unit RAG /
    // embedding pipelines index. Pure per-row generate: explode of a
    // sequence + substr — no shuffle at all, and the scan only reads
    // (doc_id, text, n_chars). Chunk text leaves the query as md5 so the
    // compare doesn't ship megabytes of prose.
    "q_text_chunk" -> ((s, d) =>
      passages(table(s, d, "documents"))
        .select(col("doc_id"), col("chunk_id"),
          (col("chunk_id") * Stride).as("chunk_start"),
          least(lit(PassageLen.toLong), col("n_chars") - col("chunk_id") * Stride)
            .as("chunk_len"),
          md5(col("text")).as("chunk_md5"))),

    // Deterministic source-weighted corpus mixing: each source keeps a
    // fixed fraction of docs (weights 1.0/0.5/0.25/0.1 by source id mod 4)
    // chosen by salted hash — the reproducible form of mixture sampling
    // (Pile/Dolma-style source reweighting). Decimal weight literals keep
    // the threshold arithmetic exact in both engines.
    "q_sample_weighted" -> ((s, d) => {
      val w = expr("CASE CAST(substr(source, 4) AS INT) % 4 " +
        "WHEN 0 THEN 1.0 WHEN 1 THEN 0.5 WHEN 2 THEN 0.25 ELSE 0.1 END")
      val h = Core.md5Hash64(concat(lit("mix|"), col("doc_id").cast("string"))) % 10000
      table(s, d, "documents")
        .where(h < (w * 10000).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),

    // Deterministic per-group k-sample (graft.functions.BottomKAgg): the k
    // docs with the smallest salted md5 hash per language — reservoir
    // sampling's reproducible cousin. Membership depends only on the hash
    // (never scan/merge order), the buffer is bounded at k pairs per
    // (group, partition), and nothing collects: "a uniform 1k-doc sample
    // per language" at 100 TB without sorting or shuffling the group.
    "q_sample_bottomk" -> ((s, d) => {
      val h = Core.md5Hash64(concat(lit("bk|"), col("doc_id").cast("string")))
      table(s, d, "documents")
        .groupBy(col("lang"))
        .agg(graft.functions.BottomKAgg.bottomK(
          h, col("doc_id").cast("string"), 5).as("ids"))
        .select(col("lang"), explode(col("ids")).as("doc_id"))
    }),

    // Per-domain document cap (anti-over-representation gate every crawl
    // pipeline runs before training): keep at most K docs per source, the
    // K with the smallest salted hash, so no domain dominates the mix.
    // Same BottomKAgg as q_sample_bottomk but proving the other half of
    // the contract: the oracle is the obvious row_number() window, and the
    // Spark plan replaces that per-domain FULL SORT with a bounded
    // (k-pair) map-side partial agg — at 100 TB a hot domain's window sort
    // is a straggler task; the bounded agg never materializes the group.
    // TOKEN-budget-constrained mixing — how production mixtures are
    // actually specified (N tokens per source, Pile/LLaMA-style), where
    // q_sample_domain_cap caps by DOC count: docs take a deterministic
    // salted-hash order within their source and are kept while the
    // running token total stays ≤ the budget (strict prefix — the first
    // overflowing doc is cut, nothing after it re-enters). One keyed
    // window + one agg; reproducible across engines, runs, partitionings.
    "q_sample_token_budget" -> ((s, d) => {
      val budget = 2000L
      val docs = table(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_toks"),
          Core.md5Hash64(concat(lit("tb|"), col("doc_id").cast("string")))
            .as("h"))
      val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.withColumn("cum", sum(col("n_toks")).over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_source_docs"),
          sum(col("n_toks")).as("tokens_total"),
          sum(when(col("cum") <= budget, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("cum") <= budget, col("n_toks")).otherwise(0L))
            .as("tokens_kept"))
    }),

    "q_sample_domain_cap" -> ((s, d) => {
      val h = Core.md5Hash64(concat(lit("cap|"), col("doc_id").cast("string")))
      table(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_source_docs"),
          graft.functions.BottomKAgg.bottomK(
            h, col("doc_id").cast("string"), 10).as("ids"))
        .select(col("source"), col("n_source_docs"),
          explode(col("ids")).as("doc_id"))
    }),

    // In-batch negative construction (the contrastive-training data
    // shape — SimCLR/DPR): docs are dealt into ~32-doc batches by salted
    // hash (salt = epoch, so re-dealing per epoch is one constant change),
    // and every ordered non-self pair within a batch is an (anchor,
    // negative) example. Batch COUNT scales with the corpus while batch
    // SIZE stays fixed, so pair volume is n·(size−1) — linear, never the
    // n²/K trap of a fixed batch count. Scale shape: one keyed shuffle
    // co-locates each batch; the quadratic step is bounded by 32² per
    // batch. The batch count is the one driver-held scalar (ceil(n/32) —
    // same model-sized-state discipline as the KMeans centroids, audited
    // in SCALE.md); everything else is per-row narrow compute.
    "q_sample_inbatch_negatives" -> ((s, d) => {
      val n = table(s, d, "documents").count()
      val nb = math.max(1L, (n + 31L) / 32L)
      val batched = table(s, d, "documents")
        .select(col("doc_id"),
          (Core.md5Hash64(concat(lit("negb0|"), col("doc_id").cast("string")))
            % nb).as("batch"))
      batched.as("a").join(batched.as("b"), Seq("batch"))
        .where(col("a.doc_id") =!= col("b.doc_id"))
        .select(col("batch"), col("a.doc_id").as("anchor_id"),
          col("b.doc_id").as("neg_id"))
    }),

    // Temperature-rebalanced language mixing (the XLM-R / mT5 recipe):
    // sample languages ∝ (n_l/N)^α so head languages shrink and tail
    // languages UPSAMPLE (expected copies c_l > 1 → explode emits whole
    // repeats; the fractional remainder lands by deterministic hash).
    // Scale shape: the per-language stats frame is a tiny agg (one
    // map-side-partial pass), rates ride a broadcast join back — the
    // corpus itself never shuffles; output rows stream straight out of
    // the generate. Every arithmetic step is mirrored verbatim in the
    // DuckDB oracle, with c_l rounded to 6dp on both sides so FP
    // ulp drift can't flip a floor/threshold.
    "q_sample_temperature" -> ((s, d) => {
      val docs = table(s, d, "documents")
      // totals via an unpartitioned window over the (lang-cardinality)
      // stats frame, NOT a second agg branch: a branch would re-scan the
      // corpus per consumer (Catalyst doesn't share non-cached subplans),
      // so the whole query costs exactly two corpus passes — the floor
      // for any global-stats-then-apply sampler.
      val all = Window.partitionBy()
      val rates = docs.groupBy(col("lang"))
        .agg(count(lit(1)).cast("double").as("n_l"))
        .select(col("lang"),
          round(pow(col("n_l"), lit(0.5))
            / sum(pow(col("n_l"), lit(0.5))).over(all)
            * sum(col("n_l")).over(all) / col("n_l"), 6).as("c"))
      val h = Core.md5Hash64(
        concat(lit("temp|"), col("doc_id").cast("string"))) % 10000
      docs.join(broadcast(rates), "lang")
        .withColumn("n_copies",
          floor(col("c")).cast("long") +
            when(h < floor((col("c") - floor(col("c"))) * 10000)
              .cast("long"), 1L).otherwise(0L))
        .where(col("n_copies") > 0)
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(1L), col("n_copies"))).as("copy"))
    }),

    // Greedy sequence packing (llm.Pack): concatenate docs into fixed-
    // capacity context windows so short docs don't waste padded slots —
    // sharded by id modulo, one streaming pass per shard, three longs of
    // task state. The oracle replays the identical greedy fold with a
    // recursive CTE per shard.
    "q_pack_sequences" -> ((s, d) => {
      graft.llm.Pack.packGreedy(table(s, d, "documents"),
        idCol = "doc_id", costCol = "n_chars", budget = 4096L, nShards = 8)
    }),

    // BPE subword tokenization (llm.Bpe): merge rules trained on the corpus
    // vocabulary (one agg + 1-row collect per merge, KMeans-style driver
    // model), then applied per document as a pure Column fold. The DuckDB
    // twin (bpeOracleSql) re-runs TRAINING too — four unrolled merge-round
    // CTEs with list_reduce folds — so the driver hash-checks the whole
    // pipeline, learned merges included.
    "q_text_bpe" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val merges = graft.llm.Bpe.train(docs, "text", nMerges = 4)
      // Tokenize via the vocabulary, not per occurrence: the merge fold runs
      // once per DISTINCT word, and documents join against it (Zipf makes
      // the vocab a fraction of the corpus; AQE broadcasts it when small —
      // not pinned, since a 100 TB corpus's vocab may exceed the threshold).
      val wordTokens = graft.llm.Bpe.vocab(docs, "text")
        .select(col("word"),
          size(graft.llm.Bpe.applyMerges(col("word"), merges)).cast("long").as("n_sub"))
      docs
        .select(col("doc_id"),
          explode(filter(split(col("text"), "\\s+"), w => length(w) > 0)).as("word"))
        .join(wordTokens, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
    }),

    // SimHash fingerprint (16-bit) — near-dup families share fingerprints.
    // Hash array materialized once; 16 bit votes read the attribute.
    "q_dedup_simhash" -> ((s, d) => {
      table(s, d, "documents")
        .select(col("doc_id"),
          TextOps.tokenHashes(TextOps.tokenSet(col("text"))).as("hashes"))
        .select(col("doc_id"), TextOps.simhashOfHashes(col("hashes"), 16).as("simhash16"))
    }),

    // SimHash Hamming near-dup JOIN (Manku WWW'07) — the pair-finding half
    // the 16-bit fingerprint query lacks: 60-bit vote-aggregated simhash,
    // then the pigeonhole candidate join (4 blocks × 15 bits; distance ≤ 3
    // ⇒ ≥ 1 block agrees exactly) and the exact popcount-of-xor verify.
    // Lossless at its radius, never all-pairs; the wide fingerprint build
    // is one explode + one 60-sum grouped agg (Dedup.simhashGrouped).
    "q_dedup_simhash_hamming" -> ((s, d) => {
      val sigs = Dedup.simhashGrouped(Core.spread(table(s, d, "documents")), "doc_id", "text", 60)
      Dedup.simhashHammingPairs(sigs, "doc_id", blocks = 4, blockBits = 15, maxDist = 3)
    }),

    // The production composition the plain Hamming join's docs point to:
    // EXACT-dedup first (md5 groupBy, min-doc keeper), then the 60-bit
    // SimHash pigeonhole over CANONICALS only. An exact-dup family of m
    // copies matches on all 4 blocks, costing the plain join m²/2 output
    // pairs and ≤4× pre-distinct candidate inflation; collapsing first
    // makes the banded join see each distinct text once, leaving Hamming
    // distance the only job it's needed for — the FUZZY tail. On web
    // crawls exact-copy mass dominates; THIS fixture's dup families are
    // almost all fuzzy (8 exact families at sf0.1; 271,530 → 271,373
    // pairs), so here the row proves the composition's equivalence, not
    // its savings. n_copies rides along so downstream weighting still
    // sees family mass.
    "q_dedup_simhash_canonical" -> ((s, d) => {
      val docs = Core.spread(table(s, d, "documents"))
      val canon = docs
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      val canonDocs = canon.join(docs, Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("n_copies"))
      val sigs = Dedup.simhashGrouped(canonDocs, "doc_id", "text", 60)
      Dedup.simhashHammingPairs(sigs, "doc_id",
          blocks = 4, blockBits = 15, maxDist = 3)
        .join(canonDocs.select(col("doc_id").as("doc1"),
          col("n_copies").as("n_copies1")), Seq("doc1"))
        .join(canonDocs.select(col("doc_id").as("doc2"),
          col("n_copies").as("n_copies2")), Seq("doc2"))
        .select(col("doc1"), col("doc2"), col("hamming"),
          col("n_copies1"), col("n_copies2"))
    }),

    // Text quality stats: token counts, mean token length, stopword ratio.
    // toks materializes behind its own select (Catalyst re-evaluates
    // repeated non-attribute subexpressions — the inline form re-split the
    // text 4x per row); mean token length is EXACT arithmetic, no fold:
    // for any single-char split, sum(len(token)) = len(text) - (n - 1).
    "q_text_stats" -> ((s, d) => {
      table(s, d, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_calc"),
          TextOps.tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          col("n_chars_calc"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct_tokens"),
          round((col("n_chars_calc") - size(col("toks")) + 1).cast("double")
            / size(col("toks")), 4).as("avg_token_len"),
          round(size(filter(col("toks"), t => t.isInCollection(Stopwords)))
            .cast("double") / size(col("toks")), 6).as("stopword_ratio"))
    }),

    // Gopher/C4-style quality gate: compose the stats into keep/drop rules
    // (token-count band, mean token length band, stopword floor) — the
    // standard pre-training corpus filter. Pure composition of codegen'd
    // builtins; the gates push down as ordinary predicates.
    "q_text_quality_filter" -> ((s, d) => {
      table(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("nc"),
          TextOps.tokens(col("text")).as("toks"))
        .select(
          col("doc_id"), col("lang"),
          size(col("toks")).cast("long").as("n_tokens"),
          round((col("nc") - size(col("toks")) + 1).cast("double")
            / size(col("toks")), 4).as("avg_token_len"),
          round(size(filter(col("toks"), t => t.isInCollection(Stopwords)))
            .cast("double") / size(col("toks")), 6).as("stopword_ratio"))
        .where(col("n_tokens").between(10, 1000) &&
          col("avg_token_len").between(2.0, 12.0) &&
          col("stopword_ratio") > 0.0)
    }),

    // Gopher-style rule filter (Rae et al. 2021, §A1.1), adapted to the
    // fixture's whitespace corpus: word-count bounds, mean-word-length
    // bounds (free arithmetic on length(text) and size(toks) — the
    // single-char-split identity, no per-token fold), alphabetic-word
    // fraction, and distinct-stopword presence. Emits every rule metric
    // plus the conjunctive pass flag so downstream mixing can re-weight
    // individual rules without recomputing. Per-row narrow compute, no
    // shuffle; the stopword set rides as a literal array (array_intersect
    // gives DISTINCT stopwords hit, matching Gopher's "contains at least
    // 2 of ..." phrasing).
    "q_text_gopher_rules" -> ((s, d) => {
      table(s, d, "documents")
        .select(col("doc_id"), col("lang"), length(col("text")).as("nc"),
          TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("lang"),
          size(col("toks")).cast("long").as("n_words"),
          round((col("nc") - size(col("toks")) + 1).cast("double")
            / size(col("toks")), 4).as("mean_word_len"),
          round(size(filter(col("toks"), t => t.rlike("[a-z]")))
            .cast("double") / size(col("toks")), 6).as("frac_alpha"),
          size(array_intersect(col("toks"), typedLit(Stopwords)))
            .cast("long").as("n_stop"))
        .withColumn("passes",
          (col("n_words").between(50, 100000) &&
            col("mean_word_len").between(3.0, 10.0) &&
            col("frac_alpha") >= 0.8 &&
            col("n_stop") >= 2).cast("long"))
    }),

    // PII-style scrubbing: mask URLs, emails, and digit runs with regex
    // replacement (the standard pre-training redaction pass). md5 of the
    // scrubbed text pins byte-exact agreement with the oracle.
    "q_text_scrub" -> ((s, d) => {
      val scrubbed = regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), lit("https?://\\S+"), lit("<URL>")),
          lit("[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+"), lit("<EMAIL>")),
        lit("[0-9]+"), lit("<NUM>"))
      table(s, d, "documents").select(
        col("doc_id"),
        length(scrubbed).cast("long").as("scrubbed_len"),
        md5(scrubbed).as("scrubbed_md5"))
    }),

    // Regex token counting (whitespace + BPE-ish word/digit/punct pieces).
    "q_text_tokens" -> ((s, d) => {
      table(s, d, "documents").select(
        col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
          .cast("long").as("re_tokens")
      )
    }),

    // Language-ID: marker-word-profile argmax (n-gram heuristic at the word
    // level). Narrow per-row scoring against 5 fixed profiles; ties broken
    // deterministically (lexicographically greatest lang wins, mirroring
    // array_max over struct(score, lang)).
    "q_text_langid" -> ((s, d) => {
      val toks = TextOps.tokens(col("text"))
      val scored = array(LangProfiles.toSeq.sortBy(_._1).map { case (l, ws) =>
        struct(
          size(filter(toks, t => t.isInCollection(ws))).cast("long").as("score"),
          lit(l).as("lang"))
      }: _*)
      table(s, d, "documents").select(
        col("doc_id"),
        array_max(scored).getField("lang").as("pred_lang"),
        array_max(scored).getField("score").as("score"))
    }),

    // Document fingerprint (winnowing-style): hash every word 5-gram,
    // keep the min hash plus the 1/16-sampled selection (h % 16 == 0) as
    // an xor-folded signature. Per-row compute only; near-dup docs share
    // fp_min / fp_xor. A Karp-Rabin rolling hash is the constant-factor
    // variant of the same operator (same selection semantics).
    "q_text_fingerprint" -> ((s, d) => {
      // hashes and the sampled selection materialize as columns so the
      // md5-per-shingle work runs once, not once per consuming aggregate
      Core.spread(table(s, d, "documents"))
        .where(size(split(col("text"), " ")) >= 5)
        .select(col("doc_id"),
          transform(TextOps.shingles(col("text"), 5), w => Core.md5Hash64(w)).as("hashes"))
        .select(col("doc_id"), col("hashes"),
          filter(col("hashes"), h => h % 16 === 0).as("selected"))
        .select(
          col("doc_id"),
          array_min(col("hashes")).as("fp_min"),
          size(col("selected")).cast("long").as("n_sel"),
          aggregate(col("selected"), lit(0L), (a, h) => a.bitwiseXOR(h)).as("fp_xor"))
    }),

    // Fuzzy matching: Levenshtein edit distance on LSH candidate pairs'
    // text prefixes — the string-level verification tier of the dedup
    // stack (exact-Jaccard catches token edits; edit distance catches
    // character-level noise). Bounded to prefixes: O(len²) per pair.
    "q_text_levenshtein" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val sigs = docSigs(docs).cache()
      val pairs = lshPairs(sigs).select(col("doc1"), col("doc2"))
      pairs
        .join(docs.select(col("doc_id").as("doc1"), substring(col("text"), 1, 40).as("t1")), Seq("doc1"))
        .join(docs.select(col("doc_id").as("doc2"), substring(col("text"), 1, 40).as("t2")), Seq("doc2"))
        .select(col("doc1"), col("doc2"),
          levenshtein(col("t1"), col("t2")).cast("long").as("edit_dist"))
    }),

    // Karp-Rabin rolling hash (native O(n) expression) over word 5-grams:
    // the constant-factor upgrade of q_text_fingerprint's hash-per-shingle
    // form — one pass, no per-window string building.
    "q_text_rollhash" -> ((s, d) => {
      import org.apache.spark.sql.graft.RollingHash
      table(s, d, "documents")
        .select(col("doc_id"),
          transform(TextOps.tokens(col("text")),
            t => Core.md5Hash64(t) % RollingHash.P).as("th"))
        .select(col("doc_id"), RollingHash.rollingHash(col("th"), 5).as("rh"))
        .where(size(col("rh")) > 0)
        .select(
          col("doc_id"),
          size(col("rh")).cast("long").as("n_windows"),
          array_min(col("rh")).as("rh_min"),
          array_max(col("rh")).as("rh_max"))
    }),

    // Brute-force cosine top-10 vs the vec_id=0 query vector — the exact
    // baseline an IVF/LSH variant must agree with. Query side is a broadcast
    // (1 row); the scan side is embarrassingly parallel. The top-10 is
    // orderBy+limit — TakeOrderedAndProject's per-partition bounded heaps
    // + a 10-row merge; a partition-less row_number window here would sort
    // the whole scored corpus in ONE task (the r14-outlawed shape). The
    // rank column is minted by a window over the 10-row result only.
    "q_sim_cosine_topk" -> ((s, d) => {
      val e = table(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val q = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      // r16 (guide §4, VERDICT item 6): the old zip_with/aggregate lambda
      // dots were interpreted per corpus row — the repo's codegen'd
      // DotProduct is FP-identical (same ascending-index sequential sum
      // as the left fold; self-dot ≡ the x*x transform fold), so the
      // rounded cosines are bit-equal. Cheap at sf0.1; this is the 100 TB
      // hygiene fix — no interpreted HOF remains on the corpus side.
      val dot = Vectors.dotFast(col("v"), col("qv"))
      val n1 = sqrt(Vectors.dotFast(col("v"), col("v")))
      val n2 = sqrt(Vectors.dotFast(col("qv"), col("qv")))
      e.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), round(dot / (n1 * n2), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(10)
        .withColumn("rn", row_number()
          .over(Window.orderBy(col("cos").desc, col("vec_id"))).cast("long"))
    }),

    // BM25-shaped sparse retrieval (Robertson/Spärck Jones; the k1/b
    // saturation + length normalization of BM25 with an exact-RATIONAL
    // idf: (N−df+1)/(df+1) — the inside of BM25's log. The log is a
    // monotone per-term transform whose cross-engine ulp behavior can't
    // hold a hash gate (ln is not correctly rounded in either engine);
    // the repo's fixed-point contract wins over log fidelity, same call
    // as tfidf-cosine's integer weights). All arithmetic is BIGINT floor
    // division, so ranks are hash-exact. Queries are data-derived (every
    // doc_id % 100 == 0 doc under queryDocs' fixed budget contributes its
    // first ≤5 distinct tokens); the scorer is `bm25`.
    // Scale shape: the query frame is budget-sized and BROADCASTS into
    // the term-keyed tf join — candidates are bounded by Σ_t df(t), never
    // the corpus; dl joins candidates doc-keyed; N/L ride a 1-row
    // broadcast; the final top-10 window partitions by query.
    "q_text_bm25" -> ((s, d) => docTop10(table(s, d, "documents"),
      TextOps.tokens, dfCap = false, cacheTf = true)),

    // Retrieval-quality gate for the BM25 family: per-query MRR and
    // nDCG@10 of the dfcap (trigram-term) ranking against a
    // deterministic pseudo-relevance set — the ranking-quality loop the
    // ANN family already has (recall gates) applied to lexical
    // retrieval. The dfcap ranker is the one worth gating: the
    // word-token original's query terms are all stopwords on this
    // corpus's 31-word vocabulary, so it retrieves NOTHING relevant
    // (measured — every hit count 0); the trigram ranker actually ranks
    // overlap. Relevance = shares ≥ 2 distinct word trigrams with the
    // query doc (an integer count, zero FP — a lexical pseudo-label,
    // which is what gates ranking-change regressions when no human
    // labels exist). Rank discounts are the shared NdcgW fixed-point
    // literals, so DCG/IDCG are exact integers and each query's
    // mrr/ndcg is ONE correctly-rounded division. Self-hits are
    // excluded from ranking and truth (the query doc trivially
    // retrieves itself). Per-QUERY rows, not a global average: a
    // cross-query mean would sum doubles in engine-dependent order.
    // Scale shape: ranking cost is q_text_bm25_dfcap's (bounded query
    // budget, df-bounded candidates); the truth join is
    // intersection-bounded (only docs SHARING a shingle with a query
    // doc can be relevant).
    "q_text_retrieval_eval" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val qids = queryDocs(docs).select(col("doc_id").as("query_id"))
      val ranked = docBm25(docs, qids, trigrams, dfCap = true, cacheTf = false)
        .where(col("doc_id") =!= col("query_id"))
        .withColumn("rn", row_number().over(byScore).cast("long"))
        .where(col("rn") <= 10)
        .select(col("query_id"), col("doc_id"), col("rn"))
      val sh = Dedup.shingleTable(docs, "doc_id", "text", 3)
      val qsh = sh.join(broadcast(qids), col("doc_id") === col("query_id"))
        .select(col("query_id"), col("w"))
      // broadcast the QUERY side (r15 opt, guide §3.1): qsh is
      // serving-load-bounded (the fixed ≤50-doc query budget's grams) but
      // derives from the corpus-sized shingle table, so Catalyst's
      // estimate read it as big and planned a sort-merge join that
      // shuffled and sorted the WHOLE corpus gram table by trigram; the
      // hint makes the corpus side map-only here.
      val rel = sh.join(broadcast(qsh), Seq("w"))
        .where(col("doc_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("ni"))
        .where(col("ni") >= 2)
        .select(col("query_id"), col("doc_id"))
        .cache()
      val wArr = array(NdcgW.map(lit(_)): _*)
      val cumArr = array(NdcgCum.map(lit(_)): _*)
      val hits = ranked.join(rel, Seq("query_id", "doc_id"))
        .groupBy(col("query_id"))
        .agg(min(col("rn")).as("first_rank"),
          sum(element_at(wArr, col("rn").cast("int"))).as("dcg_fp"),
          count(lit(1)).as("n_hits"))
      val nrel = rel.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
      // both gate frames are query-budget-sized (≤50 rows) but their
      // lineages read corpus-sized, so the planner sorted three ~50-row
      // frames through SMJs; broadcast builds are the honest shape
      qids.join(broadcast(nrel), Seq("query_id"), "left")
        .join(broadcast(hits), Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_rel"), lit(0L)).as("n_rel"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          col("first_rank"),
          when(col("first_rank").isNotNull,
            round(lit(1.0) / col("first_rank"), 6)).otherwise(lit(0.0))
            .as("mrr"),
          when(coalesce(col("n_rel"), lit(0L)) > 0,
            round(coalesce(col("dcg_fp"), lit(0L)).cast("double") /
              element_at(cumArr, least(col("n_rel"), lit(10L)).cast("int")),
              6)).as("ndcg10"))
    }),

    // Df-bounded BM25 — the production-regime variant of q_text_bm25. Two
    // changes, both of which the original's 100× rows showed are needed
    // (SCALE.md: 24× at 100×, candidates ≈ queries × corpus because the
    // fixture's 31-WORD vocabulary makes every query term a stopword):
    // (1) terms are word TRIGRAMS (the dedup family's discriminative-unit
    //     lesson applied to retrieval): vocab is 27k at sf0.1 and grows
    //     with the corpus (Heaps-like), median df ≈ 9 — so Σ_t df(t), the
    //     true BM25 candidate bound, is ~50 docs/query, not 4N;
    // (2) a count-derived high-df guard (df·4 ≤ N) drops stopword terms
    //     from the query side BEFORE the tf join — the WAND/stopword-prune
    //     every production engine applies. On this corpus no trigram
    //     reaches N/4, so the guard passes everything (it exists to cap
    //     the blowup when one does); the word-token original keeps the
    //     degenerate-vocab regime on the record.
    // Same fixed query budget, same all-BIGINT scoring, same top-10.
    "q_text_bm25_dfcap" -> ((s, d) => docTop10(table(s, d, "documents"),
      trigrams, dfCap = true, cacheTf = false)),

    // Hybrid retrieval: BM25 sparse ranks + brute-force dense cosine
    // ranks fused by Reciprocal Rank Fusion (Cormack SIGIR'09) — the RAG
    // serving pattern (lexical recall + semantic recall beat either
    // alone). Queries are ids present in BOTH tables (vec_id % 100 == 0;
    // the fixture's vec range ⊆ doc range); each ranker emits its top-10
    // (self excluded), and RRF folds ranks to integers:
    // rrf_fp = Σ_lists 1000000 DIV (60 + rank) — rank arithmetic only, so
    // the fusion is hash-exact even though the dense scores are floats
    // (their ulp risk is absorbed by round(cos,6)+id tiebreak, the
    // established ANN-family contract). Scale shape: sparse candidates
    // are df-bounded (bm25); dense is one broadcast query frame
    // against the codegen'd graft_dot scan; the fusion join touches only
    // 20 rows per query.
    "q_sim_hybrid_rrf" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val e = table(s, d, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val qids = e.where(col("vec_id") % 100 === 0 && col("vec_id") < 2000)
        .select(col("vec_id").as("query_id"))
      // sparse: BM25 top-10 per query, query doc excluded
      val sparse = docBm25(docs, qids, TextOps.tokens, dfCap = false,
          cacheTf = true)
        .where(col("doc_id") =!= col("query_id"))
        .withColumn("rs", row_number().over(byScore).cast("long"))
        .where(col("rs") <= 10)
        .select(col("query_id"), col("doc_id"), col("rs"))
      // dense: exact cosine top-10 per query vector, self excluded
      val qv = e.join(broadcast(qids), col("vec_id") === col("query_id"))
        .select(col("query_id"), col("v").as("qv"),
          sqrt(graft.llm.Vectors.dotFast(col("v"), col("v"))).as("qn"))
      val wD = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("doc_id"))
      val dense = e
        .withColumn("nrm", sqrt(graft.llm.Vectors.dotFast(col("v"), col("v"))))
        .crossJoin(broadcast(qv))
        .where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          round(graft.llm.Vectors.dotFast(col("v"), col("qv"))
            / (col("nrm") * col("qn")), 6).as("cos"))
        .withColumn("rd", row_number().over(wD).cast("long"))
        .where(col("rd") <= 10)
        .select(col("query_id"), col("doc_id"), col("rd"))
      val wF = Window.partitionBy(col("query_id"))
        .orderBy(col("rrf_fp").desc, col("doc_id"))
      sparse.join(dense, Seq("query_id", "doc_id"), "full_outer")
        .select(col("query_id"), col("doc_id"),
          (coalesce(expr("1000000 div (60 + rs)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + rd)"), lit(0L))).as("rrf_fp"))
        .withColumn("rn", row_number().over(wF).cast("long"))
        .where(col("rn") <= 10)
        .select(col("query_id"), col("rn"), col("doc_id"), col("rrf_fp"))
    }),

    // Passage retrieval — the RAG serving unit: score 256-char sliding
    // passages (q_text_chunk's stride-192 windows) with the BM25 integer
    // formula at PASSAGE granularity (passage df/dl/N/L), keep each
    // doc's best passage (dedup — a long doc must not flood the result
    // list), then top-3 passages per query. Same fixed query budget and
    // all-BIGINT scoring as q_text_bm25; two windows (per-(query,doc)
    // best, then per-query rank) both partition on query-bounded frames.
    "q_text_passage_retrieval" -> ((s, d) =>
      passageTop3(table(s, d, "documents"), TextOps.tokens, dfCap = false)),

    // Df-bounded passage retrieval: q_text_passage_retrieval with
    // q_text_bm25_dfcap's two production changes — trigram terms (at
    // PASSAGE granularity: passage tf/df/dl/N/L) and the count-derived
    // df·4 ≤ N_passages query-side guard. The word-token original keeps
    // the degenerate-vocab regime on the record; this is the plan whose
    // candidate volume is Σ_t df(t) (passage-df-bounded) at any corpus
    // size. Per-stage timing at 10x data (SCALE.md r12): every stage
    // grows 10-11x on data whose passage count grows 11.5x.
    "q_text_passage_dfcap" -> ((s, d) =>
      // spread: every bm25 branch re-splits the passage text into
      // trigrams — the fixture scan is one task (Core.spread doc; no-op on
      // wide inputs)
      passageTop3(Core.spread(table(s, d, "documents")), trigrams,
        dfCap = true)),

    // TF-IDF keyword extraction: top-3 terms per doc by tf·idf with a
    // smoothed idf. tf is a map-side-partial hash agg on (doc, term); df
    // aggregates the per-doc DISTINCT term table (vocabulary-sized — the
    // natural broadcast side at scale); the corpus size joins as a 1-row
    // broadcast. Ranking orders by the ROUNDED score (then term) so an
    // ulp-level log difference between engines cannot flip ranks.
    "q_text_tfidf" -> ((s, d) => {
      val toks = table(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
      // tf already holds one row per (doc, w), so df is a re-agg of tf —
      // NOT a second corpus scan + distinct of the exploded table; tf is
      // cached because both df and the final join read it (it's the
      // Zipf-collapsed frame, far smaller than the exploded corpus)
      val tf = toks.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
        .cache()
      val docFreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val n = table(s, d, "documents")
        .agg(count(lit(1)).cast("double").as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("w"))
      tf.join(docFreq, Seq("w"))
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log10((col("n_docs") + 1.0) / (col("df") + 1.0)), 4))
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select(col("doc_id"), col("w").as("term"), col("tfidf"), col("rn"))
    }),

    // Duplicated-span detection — substring-granular dedup (the span-level
    // complement of whole-doc near-dup, after Lee et al.'s exact-substring
    // dedup, at word-8-gram resolution): spans seen in >= 2 distinct docs.
    // Window hashes come from the native O(n) RollingHash over TWO
    // independently-seeded token-hash streams, combined into a ~62-bit key:
    // one md5 per token per stream instead of a digest per 8-gram string
    // (~3x less hashing — the dominant cost), while a single 31-bit stream
    // would birthday-collide tens of thousands of false duplicate spans at
    // corpus scale. Spans cross the shuffle as longs, never text; the agg
    // is map-side partial.
    "q_dedup_substring" -> ((s, d) => {
      import org.apache.spark.sql.graft.RollingHash.{rollingHash, P}
      Core.spread(table(s, d, "documents"))
        // tokenization materializes behind its own select: both hash
        // streams read the attribute instead of re-splitting the text
        // (Catalyst re-evaluates repeated non-attribute subexpressions)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          transform(col("toks"), t => Core.md5Hash64(t) % P).as("th1"),
          transform(col("toks"),
            t => Core.md5Hash64(concat(lit("sp2|"), t)) % P).as("th2"))
        .select(col("doc_id"),
          explode(array_distinct(zip_with(
            rollingHash(col("th1"), 8), rollingHash(col("th2"), 8),
            (a, b) => a * P + b))).as("span_hash"))
        .groupBy(col("span_hash"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
        .where(col("n_docs") >= 2)
    }),

    // Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    // SIGMOD'03 — the MOSS algorithm): keep the MINIMUM span hash of
    // every w-length window over the k-gram rolling hashes, so any
    // shared substring of ≥ w+k−1 tokens is GUARANTEED a shared
    // fingerprint while storage drops ~w×. The sampled-yet-guaranteed
    // middle ground between full span dedup (q_dedup_substring, every
    // span shuffles) and minhash (no locality guarantee). Same 60-bit
    // two-stream span hashes as q_dedup_substring; per-row narrow
    // compute, only fingerprints shuffle.
    "q_dedup_winnow" -> ((s, d) => {
      import org.apache.spark.sql.graft.RollingHash.{rollingHash, P}
      val w = 4
      Core.spread(table(s, d, "documents"))
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          transform(col("toks"), t => Core.md5Hash64(t) % P).as("th1"),
          transform(col("toks"),
            t => Core.md5Hash64(concat(lit("sp2|"), t)) % P).as("th2"))
        .select(col("doc_id"),
          zip_with(rollingHash(col("th1"), 8), rollingHash(col("th2"), 8),
            (a, b) => a * P + b).as("spans"))
        .where(size(col("spans")) >= w)
        .select(col("doc_id"),
          explode(array_distinct(transform(
            sequence(lit(1), size(col("spans")) - (w - 1)),
            i => array_min(slice(col("spans"), i, lit(w)))))).as("fp"))
        .groupBy(col("fp"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
        .where(col("n_docs") >= 2)
    }),

    // Content-defined chunking dedup (the FastCDC/LBFS family, after
    // Muthitacharoen et al. SOSP'01): chunk boundaries fall where the
    // 4-token rolling hash satisfies `span % 64 < 8` (avg chunk ≈ 8+k
    // tokens), so an INSERTION only shifts boundaries locally — the
    // chunks after it re-align and still dedup, where q_dedup_lines'
    // fixed-width segments would all shift and miss. Chunk identity is
    // portable md5 of the joined tokens; boundary hashes ride the native
    // O(n) RollingHash. Per-row narrow compute; only (chunk_md5, doc_id)
    // shuffles for the map-side-partial count.
    "q_dedup_cdc_chunks" -> ((s, d) => {
      TextOps.cdcChunks(Core.spread(table(s, d, "documents")), "doc_id", "text",
          k = 4, modulus = 64, target = 8)
        .groupBy(col("chunk_md5"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"), min(col("doc_id")).as("first_doc"))
        .where(col("n_occ") >= 2)
    }),

    // Deterministic global shuffle for training-data ordering: a stable
    // pseudorandom permutation as (shard, pos) — shard = hash % nShards,
    // pos ranks by hash within the shard. Reproducible across runs,
    // engines, and partitionings (RNG sampling is none of those), and no
    // single-partition global sort: parallelism = shard count (8 here;
    // thousands at cluster scale), each shard's window sorts its slice only.
    "q_shuffle_shards" -> ((s, d) => {
      val h = Core.md5Hash64(concat(lit("shuf|"), col("doc_id").cast("string")))
      val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
      table(s, d, "documents")
        .select(col("doc_id"), h.as("h"))
        .withColumn("shard", col("h") % 8)
        .withColumn("pos", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
    }),

    // Shard integrity manifest — the reproducible-dataset-release
    // artifact: per shard (same salted-hash assignment family as
    // q_shuffle_shards), row/token counts plus a content digest = md5 of
    // the per-doc md5s concatenated in doc_id order. Two engines (or two
    // runs, or a consumer re-downloading the shards) producing the same
    // manifest proves byte-level agreement without moving the corpus —
    // the green oracle row IS that cross-engine proof. Scale shape: one
    // keyed shuffle; the digest folds 32-char strings per doc (at 100 TB
    // an incremental/merkle hash per shard replaces the concat — the
    // q_etl_table_diff XOR sketch is that form; this is the
    // order-sensitive strong digest for release manifests).
    "q_etl_shard_manifest" -> ((s, d) => {
      val S = 32
      table(s, d, "documents")
        .select(
          pmod(Core.md5Hash64(concat(lit("shard|"), col("doc_id").cast("string"))),
            lit(S)).as("shard"),
          col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_toks"),
          md5(col("text")).as("dmd5"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("dmd5")))),
            x => x.getField("dmd5")), "")).as("content_digest"))
    }),

    // Exact-substring (SPAN-level) dedup — the Lee et al. 2022
    // ("Deduplicating Training Data Makes Language Models Better")
    // operator the doc-level family can't express: find every maximal
    // token span that appears verbatim in MORE THAN ONE document. Doc-
    // level dedup keeps one copy of a duplicated DOC; this finds the
    // boilerplate/quote/license spans duplicated ACROSS otherwise-unique
    // docs — the op production pipelines run with suffix arrays, here as
    // three declarative stages:
    //  (1) positional K-token shingles (K = 8; Lee used 50-token windows
    //      on web text, the fixture's docs are shorter), hashed to one
    //      long so the shuffle never carries the text;
    //  (2) cross-doc shingle set: groupBy(hash) keeping min(doc) ≠
    //      max(doc) — an all-partial-agg test, cheaper than a distinct
    //      count, no false negatives (a hash seen in 2+ docs always has
    //      min ≠ max);
    //  (3) per-doc gaps-and-islands merge of the surviving positions:
    //      consecutive dup shingles at distance ≤ K overlap or touch, so
    //      a break opens only when pos > prev + K; the running sum of
    //      breaks is the span id — one doc-keyed window, all-integer.
    // Output: (doc_id, span_id, start_tok, end_tok, span_toks), maximal
    // duplicated spans ≥ K tokens. 100 TB shape: two shingle-table
    // shuffles (the dup-set agg + the semi-join back, the decontaminate
    // pattern) and one doc-local window; everything else is narrow.
    "q_dedup_span_dupes" -> ((s, d) =>
      Dedup.duplicatedSpans(table(s, d, "documents"), "doc_id", "text", 8)),

    // The actionable half: rebuild the corpus with all-but-one occurrence
    // of every duplicated 8-gram removed (Dedup.scrubSpans — keeper =
    // global (doc,pos)-min per shingle; a token survives if unprotected-
    // covered by no dup occurrence). scrubbed_md5 puts the BYTES of the
    // scrubbed corpus under the cross-engine hash gate, not just counts.
    "q_dedup_span_scrub" -> ((s, d) =>
      Dedup.scrubSpans(table(s, d, "documents"), "doc_id", "text", 8)),

    // Incremental (merkle) shard digest — the 100 TB form of
    // q_etl_shard_manifest's order-sensitive content digest, per
    // COVERAGE.md's own note: the flat concat digest re-reads a whole
    // shard to verify (or extend) it; here each shard's docs (doc_id
    // order) fold into fixed 64-doc BLOCKS (leaf = md5 of the block's
    // per-doc md5s concatenated) and the shard root = md5 of the leaf
    // digests in block order. Re-verifying one doc reads its 64-doc
    // block + the n/64 leaf list, not the shard; appending to a release
    // recomputes only the tail block + the root fold. Plan shape: ONE
    // exchange — the per-shard window sorts on hash(shard), and both
    // downstream groupBys (shard, block) and (shard) are satisfied by
    // that partitioning, so neither adds an exchange (the BFS fusion
    // law). Leaf digests are the incremental state a release pipeline
    // persists; this query emits the shard summary (root + counts) the
    // manifest consumer checks.
    "q_etl_shard_merkle" -> ((s, d) => {
      val S = 32
      val B = 64
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      val leaves = table(s, d, "documents")
        .select(
          pmod(Core.md5Hash64(concat(lit("shard|"), col("doc_id").cast("string"))),
            lit(S)).as("shard"),
          col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_toks"),
          md5(col("text")).as("dmd5"))
        .withColumn("blk", ((row_number().over(w) - 1) / B).cast("long"))
        .groupBy(col("shard"), col("blk"))
        .agg(count(lit(1)).as("nd"), sum(col("n_toks")).as("nt"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("dmd5")))),
            x => x.getField("dmd5")), "")).as("leaf"))
      leaves.groupBy(col("shard"))
        .agg(sum(col("nd")).as("n_docs"), sum(col("nt")).as("n_tokens"),
          count(lit(1)).as("n_blocks"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("blk"), col("leaf")))),
            x => x.getField("leaf")), "")).as("merkle_root"))
    }),

    // Inverted-index construction for mid-frequency terms (2 <= df <= 20):
    // the df pass (cheap, map-side partial) filters BEFORE the postings
    // collect, so no collect_list ever sees a head term's unbounded
    // postings — the order matters at 100 TB where 'the' posts every doc.
    // Terms are word BIGRAMS (phrase index): the fixture's unigram
    // vocabulary is 31 dense terms whose dfs all exceed 20, so the r11
    // unigram form returned 0 rows at sf0.01 and its oracle row was
    // vacuous; bigrams have a real mid-frequency tail at every sf (70
    // terms at sf0.01, 31 at sf0.1) and are the unit a phrase index
    // actually posts. Postings serialize sorted via array_join (driver
    // compare can't sort raw array cells).
    "q_text_inverted_index" -> ((s, d) => {
      // terms feeds TWO consumers (df pass + join-back); cached per the
      // r13 Probe invidx A/B — uncached the bigram explode re-runs per
      // consumer (3.26 s vs 2.3 s at sf0.1, repeatable in one JVM).
      // MEMORY_AND_DISK like q_text_bigram_lm's precedent: at corpus
      // scale the exploded table spills like a shuffle write instead of
      // silently vanishing.
      val terms = Core.spread(table(s, d, "documents"))
        .select(col("doc_id"),
          explode(array_distinct(TextOps.shingles(col("text"), 2))).as("term"))
        .cache()
      val docFreq = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .where(col("df").between(2, 20))
      terms.join(docFreq, Seq("term"))
        .groupBy(col("term"), col("df"))
        .agg(array_join(array_sort(collect_list(col("doc_id"))), ",")
          .as("postings"))
        .select(col("term"), col("df"), col("postings"))
    }),

    // Bigram conditional LM score (the n-gram step up from q_text_lm_score's
    // unigram): per doc, avg log10 P(w2|w1) with P = c(w1 w2) / c(w1·),
    // c(w1·) summed over bigram heads so the model is self-consistent.
    // Two vocabulary-sized count tables join back to the exploded bigrams —
    // the same shapes as tf-idf: map-side partial aggs, broadcast-friendly
    // dimension sides.
    "q_text_bigram_lm" -> ((s, d) => {
      // bi feeds THREE consumers (both count tables + the join-back);
      // uncached, the shingle explode re-runs per consumer. cache() is
      // MEMORY_AND_DISK: at corpus scale the exploded table spills like a
      // shuffle write instead of silently vanishing.
      val bi = Core.spread(table(s, d, "documents"))
        .select(col("doc_id"), explode(TextOps.shingles(col("text"), 2)).as("g"))
        .select(col("doc_id"), col("g"),
          element_at(split(col("g"), " "), 1).as("w1"))
        .cache()
      val big = bi.groupBy(col("g")).agg(count(lit(1)).as("c2"))
      val head = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      bi.join(big, Seq("g")).join(head, Seq("w1"))
        .groupBy(col("doc_id"))
        .agg(
          round(avg(log10(col("c2").cast("double") / col("c1"))), 4)
            .as("avg_logprob"),
          count(lit(1)).as("n_bigrams"))
    }),

    // Flagship composition — the corpus-preparation pipeline end-to-end in
    // ONE declarative plan: quality gate → exact dedup (min-id keeper per
    // digest) → near-dup clustering (LSH + components) with canonical
    // keeper per cluster → deterministic hash split → per-(split, lang)
    // stats. Every stage is an operator verified on its own elsewhere in
    // this file; survivors materialize via localCheckpoint (eager, lineage
    // cut, no cache-manager entry to leak) because three later stages
    // consume them, and the pair graph's cache is released as soon as the
    // eager components() call returns.
    "q_corpus_prepare" -> ((s, d) => {
      // toks materialized behind its own select: five consumers (three
      // size()s, the length fold, the stopword filter) read the attribute
      // instead of re-splitting the text per reference (Catalyst
      // re-evaluates repeated non-attribute subexpressions)
      // spread: the quality gate's token folds + the exact-dedup md5 run
      // scan-side (Core.spread doc; no-op on wide inputs)
      val survivors = Core.spread(table(s, d, "documents"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
          TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
          size(col("toks")).cast("long").as("n_tokens"),
          round((length(col("text")) - size(col("toks")) + 1).cast("double")
            / size(col("toks")), 4).as("avg_token_len"),
          round(size(filter(col("toks"), t => t.isInCollection(Stopwords)))
            .cast("double") / size(col("toks")), 6).as("stopword_ratio"))
        .where(col("n_tokens").between(10, 1000) &&
          col("avg_token_len").between(2.0, 12.0) &&
          col("stopword_ratio") > 0.0)
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(expr("min_by(struct(doc_id, lang, n_chars, text), doc_id)").as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
          col("r.n_chars").as("n_chars"), col("r.text").as("text"))
        // checkpoint in doc_id layout, not the exact-dedup's text_md5
        // layout: the minhash sig agg clusters on doc_id and reads the
        // checkpoint exchange-free (explode preserves partitioning)
        .repartition(col("doc_id"))
        .localCheckpoint()
      val sigs = docSigs(survivors)
      val pairs = nearDupEdges(sigs)
      val clusters = Dedup.components(pairs, iters = 4) // eager; checkpointed
      pairs.unpersist(blocking = false)
      // Cluster labels exist only for docs that appeared in a candidate
      // pair — the near-dup slice, bounded by the corpus duplicate rate and
      // orders of magnitude smaller than the corpus itself. So resolve
      // keepers on that slice alone and let every unlabeled survivor pass
      // straight through a broadcast anti-join: after the exact-dedup
      // groupBy, NO corpus-wide shuffle remains before the final stats
      // aggregation (vs. two full sort-merge joins when singletons are
      // coalesced into the cluster frame and re-joined against keepers).
      val dupKeepers = survivors.join(broadcast(clusters), Seq("doc_id"))
        .groupBy(col("cluster"))
        .agg(expr("max_by(struct(doc_id, lang, n_chars), struct(n_chars, -doc_id))")
          .as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
          col("r.n_chars").as("n_chars"))
      val singletons = survivors
        .join(broadcast(clusters), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val h = Core.md5Hash64(concat(lit("split|"), col("doc_id").cast("string"))) % 100
      singletons.unionByName(dupKeepers)
        .withColumn("split",
          when(h < 80, "train").when(h < 90, "val").otherwise("test"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),

    // C4/RefinedWeb-style corpus-level LINE dedup with document reassembly:
    // segment each doc into fixed 10-token "lines" (the fixture has no
    // newlines), count exact occurrences ACROSS the corpus, drop every
    // segment seen >= 3 times anywhere, and stitch each doc back together
    // in position order. This is the op that removes boilerplate
    // (headers, navbars, license blocks) that whole-doc dedup can't touch.
    // Scale shape: segments shuffle once for the count (map-side partial),
    // once for the count join, once for the reassembly groupBy — all keyed,
    // no all-pairs; reassembly buffers are doc-bounded, never corpus-wide.
    "q_dedup_lines" -> ((s, d) => {
      val L = 10
      val segs = Core.spread(table(s, d, "documents"))
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0L), floor((size(col("toks")) - 1) / lit(L.toDouble))),
          i => array_join(
            slice(col("toks"), (i * L + 1).cast("int"), lit(L)), " "))))
        .toDF("doc_id", "pos", "seg")
      val segCounts = segs.groupBy(col("seg")).agg(count(lit(1)).as("n_occ"))
      segs.join(segCounts, Seq("seg"))
        .where(col("n_occ") < 3)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("seg")))),
            x => x.getField("seg")), " ")).as("kept_md5"))
    }),

    // Benchmark decontamination via Bloom prefilter + exact verify — the
    // GPT-3-style two-stage shape: build ONE bitset (16 Kbit here; MBs at
    // any real reference size) over the reference set's 5-gram hashes,
    // broadcast it, probe every corpus gram at the scan (codegen'd
    // built-ins, no join), then exact-verify ONLY the bloom survivors
    // against the broadcast reference grams. The corpus never shuffles:
    // its only joins are against two broadcast frames, and the exact join
    // sees fpp*corpus_grams + true hits instead of every gram.
    // Hashes are md5-based (portable) so the DuckDB oracle rebuilds the
    // IDENTICAL bitset and reproduces even the false positives —
    // n_bloom_hits pins the bitset bit-for-bit, n_verified pins the
    // end-to-end decontamination answer. m is sized for the sf0.01
    // reference (~1.3k grams -> fpp ~1%); production sizes m from the
    // reference count via Bloom.bitsFor (the oracle pins one instance).
    "q_dedup_decon_bloom" -> ((s, d) => {
      val docs = table(s, d, "documents")
      deconBloom(docs, deconRefGrams(docs), m = 16384, k = 3)
    }),

    // Batch twin of the STREAMING LSH near-dup screen
    // (streaming.Streams.lshNearDupTagStream): corpus = src0 builds the
    // band-bucket bloom index (Dedup.lshBandBloom); "arriving" docs
    // (every other source) compute PER-ROW signatures
    // (Dedup.rowMinhashSigs — the stateless, shuffle-free streaming path;
    // values ≡ the grouped batch signatures, DedupSpec-pinned) and probe
    // the broadcast 1-row bitset. flagged=false is PROVABLY new at the
    // LSH level (neither the band screen nor the bloom has false
    // negatives); flagged=true goes to exact verify. The oracle rebuilds
    // the identical md5-family bitset, pinning even its false positives —
    // and because the stream side never shuffles, this plan's only
    // exchange is the index build's signature groupBy.
    "q_stream_lsh_batch" -> ((s, d) => {
      val m = 16384
      val kh = 3
      val docs = table(s, d, "documents")
      val sigs = docSigs(docs.where(col("source") === "src0"))
      val bits = Dedup.lshBandBloom(sigs, "doc_id",
        bands = 4, rowsPerBand = 2, mBits = m, k = kh)
      graft.streaming.Streams.lshNearDupTagStream(
          docs.where(col("source") =!= "src0"), bits,
          "text", 3, MinhashSeeds, bands = 4, rowsPerBand = 2,
          mBits = m, k = kh)
        .select(col("doc_id"), col("n_hit_bands"), col("flagged"))
    }),

    // Right-sized streaming LSH screen — the decon_sized sizing pass
    // applied to the stream index: the fixed 16 Kbit bitset above
    // saturates past 10× (SCALE.md — occupancy → 1, every probe a false
    // positive, the screen stops screening). Here m, k derive from the
    // index's DISTINCT band-key count via Bloom.bitsFor/hashesFor — one
    // count job at INDEX BUILD time (the corpus side, amortized like any
    // index build; the stream side stays stateless and shuffle-free) —
    // so screen precision holds at any corpus scale. m/k ride the output
    // so the DuckDB twin re-derives them from the same count with the
    // same formulas and the hash gate pins the sizing arithmetic too.
    "q_stream_lsh_sized" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val sigs = docSigs(docs.where(col("source") === "src0"))
      // r15: ONE cached distinct band-key pass feeds the sizing count AND
      // the bloom agg (insertion is idempotent — the bitset from distinct
      // keys is bit-identical, the decon_bloom argument); the old form
      // cached the sigs and still re-derived the band keys twice.
      val keys = Dedup.bandKeys(sigs, "doc_id", bands = 4, rowsPerBand = 2)
        .select(col("bk")).distinct().cache()
      val nKeys = keys.count()
      val m = graft.ops.Bloom.bitsFor(nKeys, 0.01)
      val kh = graft.ops.Bloom.hashesFor(m, nKeys)
      val bits = keys
        .select(Core.md5Hash64(col("bk")).as("h1"),
          Core.md5Hash64(concat(lit("bl|"), col("bk"))).as("h2"))
        .agg(graft.functions.BloomAgg.bloom(col("h1"), col("h2"), m, kh)
          .as("bloom_bits"))
      graft.streaming.Streams.lshNearDupTagStream(
          docs.where(col("source") =!= "src0"), bits,
          "text", 3, MinhashSeeds, bands = 4, rowsPerBand = 2,
          mBits = m, k = kh)
        .select(col("doc_id"), col("n_hit_bands"), col("flagged"),
          lit(m.toLong).as("m_bits"), lit(kh.toLong).as("k_hashes"))
    }),

    // Beyond-broadcast streaming LSH screen — the band-key STORE form of
    // q_stream_lsh_batch (r14 frontier #1): the corpus' band keys live in
    // a hash-sharded parquet store (BandStore; marker-gated build like
    // the beam store, so repeat runs pay only the probe), and an arrival
    // micro-batch tags by POINT-READING exactly its own keys' shard
    // directories — probe I/O ∝ the batch at any corpus size, where the
    // bloom forms above cap at the broadcast bitset. The arrival batch is
    // a count-derived hash pick (~100 docs): a serving batch scales with
    // INGEST load, never the corpus — collecting its band keys to the
    // driver is the same driver-bounded contract as a beam frontier.
    // Membership is EXACT (no bloom FPs), so the oracle is a plain
    // band-key join — no bitset word math to replicate.
    "q_stream_lsh_stored" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val root = storeOnce(s, d, "bandstore") { root =>
        val sigs = docSigs(docs.where(col("source") === "src0"))
        graft.streaming.BandStore.build(s,
          Dedup.bandKeys(sigs, "doc_id", bands = 4, rowsPerBand = 2)
            .select(col("bk")), root)
      }
      graft.streaming.BandStore.lshTagBatch(s, root,
          arrivalBatch(docs, "lshq|"), "doc_id",
          "text", 3, MinhashSeeds, bands = 4, rowsPerBand = 2)
        .select(col("doc_id"), col("n_hit_bands"), col("flagged"))
    }),

    // Beyond-broadcast decontamination screen — the stored form of
    // q_dedup_decon_bloom's ingest half (BandStore is key-source-
    // agnostic: same store discipline, keys = the reference corpus'
    // distinct 5-gram shingles instead of LSH band keys). Membership is
    // exact, so the bloom's hit-then-verify split collapses to one
    // n_ref_grams count; the arrival batch is the same count-derived
    // serving pick as the LSH twin.
    "q_dedup_decon_stored" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val root = storeOnce(s, d, "deconstore") { root =>
        graft.streaming.BandStore.build(s,
          docs.where(col("source") === "src0")
            .select(explode(array_distinct(
              TextOps.shingles(col("text"), 5))).as("bk")), root)
      }
      graft.streaming.BandStore.deconTagBatch(s, root,
          arrivalBatch(docs, "decq|"), "doc_id", "text", 5)
        .select(col("doc_id"), col("n_ref_grams"), col("flagged"))
    }),

    // Right-sized decontamination — the production sizing the static
    // 16 Kbit instance above deliberately doesn't do (its fixed m is what
    // the oracle pins; SCALE.md documents its saturation at 10×). Here
    // m, k derive from the reference gram count via Bloom.bitsFor /
    // hashesFor — one count job before the build, exactly the sizing pass
    // a production run pays — and the m/k used ride the output so the
    // DuckDB twin (which re-derives them from the same count with the
    // same formulas) pins the sizing arithmetic in the hash gate too.
    "q_dedup_decon_sized" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val refGrams = deconRefGrams(docs)
      val n = refGrams.count()
      val m = graft.ops.Bloom.bitsFor(n, 0.01)
      val k = graft.ops.Bloom.hashesFor(m, n)
      deconBloom(docs, refGrams, m, k)
        .withColumn("m_bits", lit(m.toLong))
        .withColumn("k_hashes", lit(k.toLong))
    }),

    // Sparse tf-idf cosine over LSH candidate pairs — the IR-style
    // similarity the dense ANN family can't express when vocabulary IS the
    // feature space. Weights are FIXED-POINT integers (wt = tf *
    // (100000 DIV df)): dots and norms stay exact under ANY summation
    // order, and the only doubles are two correctly-rounded IEEE sqrts
    // and one division — bit-identical across engines. A log-idf double
    // weighting could flip a floor at the last ulp between engines; the
    // rational idf is monotone in 1/df and pins the oracle exactly
    // (resolution floor: df > 100000 weighs 0 — the constant scales with
    // corpus size in production).
    // Scale shape: pair work is LSH-candidate-bounded (never all-pairs);
    // term vectors shuffle once by (doc, term); the weight table is
    // cached for its three consumers (both dot sides + norms).
    "q_text_tfidf_cosine" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val sigs = docSigs(docs)
      val pairs = lshPairs(sigs).select(col("doc1"), col("doc2"))
      val tf = docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      // (A/B'd: repartition(doc_id) before this cache measured flat and
      // ADDED an exchange — the dot-side joins broadcast the candidate
      // pairs, so wts never shuffles for them at any scale, and only the
      // norms agg pays one exchange. Left in the join's natural layout.)
      val wts = tf.join(dfreq, Seq("w"))
        .select(col("doc_id"), col("w"), expr("tf * (100000 DIV df)").as("wt"))
        .cache()
      val norms = wts.groupBy(col("doc_id"))
        .agg(sum(col("wt") * col("wt")).as("n2"))
      val dots = pairs
        .join(wts.as("a"), col("doc1") === col("a.doc_id"))
        .join(wts.as("b"),
          col("doc2") === col("b.doc_id") && col("a.w") === col("b.w"))
        .groupBy(col("doc1"), col("doc2"))
        .agg(sum(col("a.wt") * col("b.wt")).as("dot"))
      dots
        .join(norms.as("na"), col("doc1") === col("na.doc_id"))
        .join(norms.as("nb"), col("doc2") === col("nb.doc_id"))
        .select(col("doc1"), col("doc2"),
          round(col("dot") / (sqrt(col("na.n2")) * sqrt(col("nb.n2"))), 6)
            .as("cos_tfidf"))
    }),

    // DSIR-style importance resampling (Xie et al., arXiv:2302.03169
    // shape): each document gets a continuous importance weight in [0,1]
    // from a cheap target-distribution proxy (here 2x stopword ratio,
    // capped — the weight column is pluggable: any per-doc score slots
    // in), and is kept with probability = weight via DETERMINISTIC
    // thresholding — salted md5 of the doc id against floor(w * 1e6).
    // Unlike rand()-based sampling this is reproducible across runs,
    // engines, and partitionings, so the oracle pins exact membership.
    // Scale shape: a shuffle-free per-row filter — the corpus is scanned
    // once, no agg, no join; pushdown-friendly on the 2 read columns.
    "q_sample_importance" -> ((s, d) => {
      val kept = table(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          least(size(filter(col("toks"), t => t.isInCollection(Stopwords)))
            .cast("double") * 2 / size(col("toks")), lit(1.0)).as("w"))
      kept.where((Core.md5Hash64(concat(lit("is|"), col("doc_id").cast("string")))
          % 1000000) < floor(col("w") * 1000000))
        .select(col("doc_id"), round(col("w"), 6).as("weight"))
    }),

    // Vocabulary coverage curve — the tokenizer-design question "how many
    // word types cover X% of token occurrences?" answered for three
    // targets in one pass. The windows are GLOBAL by construction (a
    // coverage curve is a global cumsum) but run over the VOCAB table,
    // which Heaps' law keeps orders of magnitude smaller than the corpus —
    // the corpus itself sees only the map-side-partial token count.
    "q_text_vocab_coverage" -> ((s, d) => {
      val tc = table(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val ord = Window.orderBy(col("c").desc, col("w"))
      tc.select(
          row_number().over(ord).cast("long").as("rank"),
          sum(col("c")).over(
            ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("cum"),
          sum(col("c")).over(Window.partitionBy()
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .as("total"))
        .select(col("rank"), col("cum"), col("total"),
          explode(array(lit(0.5), lit(0.9), lit(0.99))).as("target"))
        .where(col("cum").cast("double") >= col("target") * col("total"))
        .groupBy(col("target"))
        .agg(min(col("rank")).as("vocab_size"),
          max(col("total")).as("total_tokens"))
    })
  )

  private val tokSetSql =
    "unnest(list_distinct(string_split(text, ' ')))"

  /** DuckDB rendition of word n-gram shingles, exploded. */
  private def shingleSqlN(n: Int, distinct: Boolean): String = {
    val lst =
      s"""list_transform(
         |  generate_series(1, greatest(len(string_split(text, ' ')) - ${n - 1}, 0)),
         |  i -> array_to_string(string_split(text, ' ')[i:i+${n - 1}], ' '))""".stripMargin
    val dl = if (distinct) s"list_distinct($lst)" else lst
    s"unnest($dl) AS w"
  }

  /** DuckDB rendition of distinct 3-gram shingles, exploded. */
  private val shingleSql = shingleSqlN(3, distinct = true)

  private val minDocSql = "len(string_split(text, ' ')) >= 3"

  /** Oracle for the connected-components clustering: LSH pairs above the
    * similarity bar, then FOUR unrolled min-label propagation CTEs. Shared
    * by q_dedup_components (fixed iters = 4 by construction) and
    * q_dedup_components_fp (fixpoint — on this fixture every cluster
    * diameter is < 4, so l4 is already stable).
    */
  private def componentsCtesFrom(base: String, prefixCtes: String = ""): String = {
    val mins = MinhashSeeds
      .map(i => s"min(${mhSql(i)}) AS mh$i").mkString(", ")
    val bandRows = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, concat_ws('_', mh${2 * b}, mh${2 * b + 1}) AS bucket FROM sigs")
      .mkString("\n  UNION ALL\n  ")
    val matches = MinhashSeeds.map(i => s"CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    val iterations = (1 to 4).map { i =>
      s"""l$i AS (
         |  SELECT ed.s AS doc_id, min(l${i - 1}.label) AS label
         |  FROM ed JOIN l${i - 1} ON l${i - 1}.doc_id = ed.t GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val pre = if (prefixCtes.isEmpty) "" else prefixCtes + ",\n"
    s"""WITH ${pre}sigs AS (
       |  SELECT doc_id, $mins
       |  FROM (SELECT doc_id, $shingleSql FROM $base WHERE $minDocSql)
       |  GROUP BY doc_id),
       |bands AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |p2 AS (
       |  SELECT doc1, doc2 FROM cand
       |  JOIN sigs x ON doc1 = x.doc_id
       |  JOIN sigs y ON doc2 = y.doc_id
       |  WHERE round(CAST($matches AS DOUBLE) / ${MinhashSeeds.size}, 4) >= 0.5),
       |v AS (SELECT doc1 AS doc_id FROM p2 UNION SELECT doc2 FROM p2),
       |ed AS (
       |  SELECT doc1 AS s, doc2 AS t FROM p2
       |  UNION ALL SELECT doc2, doc1 FROM p2
       |  UNION ALL SELECT doc_id, doc_id FROM v),
       |l0 AS (SELECT doc_id, doc_id AS label FROM v),
       |$iterations""".stripMargin
  }

  private lazy val componentsCtes: String = componentsCtesFrom("documents")

  /** DuckDB twin of the FULL BPE pipeline, training included: four unrolled
    * merge rounds (the componentsCtes fixed-iteration pattern), each a
    * weighted pair-count + deterministic argmax (count DESC, then
    * lexicographically smallest pair — Bpe.train's tie-break) + a
    * list_reduce merge fold over every vocab word. DuckDB 1.0's
    * list_reduce drops LIST-typed fields from struct accumulators, so the
    * symbol sequence is carried as a chr(1)-joined VARCHAR (symbols come
    * from whitespace splitting — never empty, never containing chr(1)).
    * The best-pair join is LEFT ... ON TRUE: a round with no pairs leaves
    * the fold as an identity pass, mirroring train()'s early stop.
    */
  private lazy val bpeOracleSql: String = {
    def app(x: String, y: String) =
      s"CASE WHEN $x = '' THEN $y ELSE $x || chr(1) || $y END"
    def round(r: Int): String = {
      val prev = s"s${r - 1}"
      val lam =
        s"""(st, e) -> CASE
           |      WHEN st.prev IS NULL THEN struct_pack(acc := st.acc, prev := e.prev)
           |      WHEN st.prev = b$r.a AND e.prev = b$r.b
           |        THEN struct_pack(acc := ${app("st.acc", s"b$r.a || b$r.b")},
           |          prev := CAST(NULL AS VARCHAR))
           |      ELSE struct_pack(acc := ${app("st.acc", "st.prev")}, prev := e.prev)
           |    END""".stripMargin
      val folded =
        s"""list_reduce(
           |    list_transform(string_split(s, chr(1)),
           |      x -> struct_pack(acc := CAST('' AS VARCHAR), prev := x)),
           |    $lam)""".stripMargin
      s"""p$r AS (
         |  SELECT sy[i] AS a, sy[i + 1] AS b, sum(n) AS cnt
         |  FROM (SELECT string_split(s, chr(1)) AS sy, n,
         |        unnest(generate_series(1, len(string_split(s, chr(1))) - 1)) AS i
         |        FROM $prev)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT a, b FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |s$r AS (
         |  SELECT word, n,
         |    (SELECT CASE WHEN f.prev IS NULL THEN f.acc
         |            ELSE ${app("f.acc", "f.prev")} END
         |     FROM (SELECT $folded AS f)) AS s
         |  FROM $prev LEFT JOIN b$r ON true)""".stripMargin
    }
    s"""WITH w AS (
       |  SELECT doc_id,
       |    unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0)) AS word
       |  FROM documents),
       |v AS (SELECT word, count(*) AS n FROM w GROUP BY word),
       |s0 AS (SELECT word, n,
       |  array_to_string(string_split(word, ''), chr(1)) AS s FROM v),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |${round(4)},
       |tok AS (SELECT word, CAST(len(string_split(s, chr(1))) AS BIGINT) AS n_sub
       |  FROM s4)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_sub) AS BIGINT) AS n_subwords
       |FROM w JOIN tok USING (word)
       |GROUP BY doc_id""".stripMargin
  }

  private lazy val componentsOracleSql: String =
    s"$componentsCtes\nSELECT doc_id, label AS cluster FROM l4"

  /** Multi-pass ER oracle: LSH ∪ SNM candidates, exact-Jaccard verify,
    * four unrolled min-label propagation CTEs (the componentsCtes
    * pattern, re-derived here because the candidate set differs).
    */
  private lazy val multipassOracleSql: String = {
    val mins = MinhashSeeds
      .map(i => s"min(${mhSql(i)}) AS mh$i").mkString(", ")
    val bandRows = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, concat_ws('_', mh${2 * b}, mh${2 * b + 1}) AS bucket FROM sigs")
      .mkString("\n  UNION ALL\n  ")
    val iterations = (1 to 4).map { i =>
      s"""l$i AS (
         |  SELECT ed.s AS doc_id, min(l${i - 1}.label) AS label
         |  FROM ed JOIN l${i - 1} ON l${i - 1}.doc_id = ed.t GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH sh AS (
       |  SELECT doc_id, $shingleSql FROM documents WHERE $minDocSql),
       |sigs AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandRows),
       |lshc AS (
       |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |rn AS (
       |  SELECT doc_id, lang, substr(text, 1, 8) AS blk,
       |    row_number() OVER (
       |      PARTITION BY lang, substr(text, 1, 8)
       |      ORDER BY text, doc_id) AS rn
       |  FROM documents),
       |snmc AS (
       |  SELECT least(a.doc_id, b.doc_id) AS doc1,
       |    greatest(a.doc_id, b.doc_id) AS doc2
       |  FROM rn a JOIN rn b ON a.lang = b.lang AND a.blk = b.blk
       |    AND b.rn > a.rn AND b.rn <= a.rn + 3),
       |cand AS (SELECT doc1, doc2 FROM lshc UNION SELECT doc1, doc2 FROM snmc),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc1, c.doc2, count(*) AS common
       |  FROM cand c
       |  JOIN sh x ON x.doc_id = c.doc1
       |  JOIN sh y ON y.doc_id = c.doc2 AND y.w = x.w
       |  GROUP BY 1, 2),
       |p2 AS (
       |  SELECT doc1, doc2 FROM inter
       |  JOIN sizes s1 ON doc1 = s1.doc_id
       |  JOIN sizes s2 ON doc2 = s2.doc_id
       |  WHERE round(CAST(common AS DOUBLE) / (s1.sz + s2.sz - common), 4)
       |    >= 0.5),
       |v AS (SELECT doc1 AS doc_id FROM p2 UNION SELECT doc2 FROM p2),
       |ed AS (
       |  SELECT doc1 AS s, doc2 AS t FROM p2
       |  UNION ALL SELECT doc2, doc1 FROM p2
       |  UNION ALL SELECT doc_id, doc_id FROM v),
       |l0 AS (SELECT doc_id, doc_id AS label FROM v),
       |$iterations
       |SELECT doc_id, label AS cluster FROM l4""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keeper, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "q_dedup_lines" ->
      """WITH segs AS (
        |  SELECT doc_id, u.pos AS pos, u.seg AS seg FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      generate_series(0, CAST(floor((len(string_split(text, ' ')) - 1) / 10.0) AS BIGINT)),
        |      i -> {'pos': i, 'seg': array_to_string(string_split(text, ' ')[(i*10+1):(i*10+10)], ' ')})) AS u
        |    FROM documents)),
        |sc AS (SELECT seg, count(*) AS n_occ FROM segs GROUP BY seg)
        |SELECT s.doc_id AS doc_id, count(*) AS n_kept,
        |  md5(string_agg(s.seg, ' ' ORDER BY s.pos)) AS kept_md5
        |FROM segs s JOIN sc USING (seg)
        |WHERE n_occ < 3
        |GROUP BY s.doc_id""".stripMargin,

    // Rebuilds BloomAgg's bitset verbatim (same md5-derived double hashes,
    // same (b1 + i*b2) % m positions, same 64-bit words — UBIGINT because
    // DuckDB's signed << 63 raises, the bit patterns are identical), so
    // n_bloom_hits cross-checks the sketch bit-for-bit INCLUDING its
    // deterministic false positives; n_verified is the exact stage.
    "q_dedup_decon_bloom" -> {
      val hr = 2147483648L // BloomAgg.HashRange
      val m = 16384
      val sh5 = shingleSqlN(5, distinct = true)
      s"""WITH ref_h AS (
         |  SELECT ${sqlHash64("w")} % $hr AS b1, ${sqlHash64("'bl|' || w")} % $hr AS b2
         |  FROM (SELECT $sh5 FROM documents WHERE source = 'src0')),
         |ref_pos AS (
         |  SELECT (b1 + i * b2) % $m AS p
         |  FROM ref_h CROSS JOIN (VALUES (0), (1), (2)) AS ks(i)),
         |words AS (
         |  SELECT p // 64 AS widx, bit_or(1::UBIGINT << CAST(p % 64 AS INT)) AS wbits
         |  FROM ref_pos GROUP BY 1),
         |probe AS (
         |  SELECT doc_id, g, i, (b1 + i * b2) % $m AS p
         |  FROM (SELECT doc_id, w AS g, ${sqlHash64("w")} % $hr AS b1,
         |               ${sqlHash64("'bl|' || w")} % $hr AS b2
         |        FROM (SELECT doc_id, $sh5 FROM documents WHERE source <> 'src0'))
         |  CROSS JOIN (VALUES (0), (1), (2)) AS ks(i)),
         |hits AS (
         |  SELECT doc_id, g
         |  FROM probe LEFT JOIN words ON probe.p // 64 = words.widx
         |  GROUP BY doc_id, g
         |  HAVING sum(CASE WHEN (coalesce(wbits, 0::UBIGINT)
         |                        & (1::UBIGINT << CAST(probe.p % 64 AS INT))) <> 0
         |             THEN 1 ELSE 0 END) = 3),
         |refg AS (SELECT DISTINCT w AS g FROM (SELECT $sh5 FROM documents WHERE source = 'src0'))
         |SELECT h.doc_id AS doc_id, count(*) AS n_bloom_hits,
         |  CAST(sum(CASE WHEN r.g IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_verified
         |FROM hits h LEFT JOIN refg r USING (g)
         |GROUP BY h.doc_id""".stripMargin
    },

    // Streaming-screen twin: signatures per doc (grouped min ≡ the Spark
    // side's per-row array_min — same family, same values), band keys
    // with the band index as prefix, then the same UBIGINT bloom word
    // math as the decon oracles over the key hashes. Short docs (< 3
    // tokens, no shingles) re-enter via the final LEFT JOIN as (0, false).
    "q_stream_lsh_batch" -> {
      val hr = 2147483648L // BloomAgg.HashRange
      val m = 16384
      val mins = MinhashSeeds.map(i => s"min(${mhSql(i)}) AS mh$i").mkString(", ")
      def keyRows(src: String) = (0 until 4)
        .map(b => s"SELECT doc_id, '$b|' || concat_ws('_', mh${2 * b}, mh${2 * b + 1}) AS bk FROM $src")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH sigs AS (
         |  SELECT doc_id, $mins
         |  FROM (SELECT doc_id, $shingleSql FROM documents
         |        WHERE source = 'src0' AND $minDocSql)
         |  GROUP BY doc_id),
         |keys AS (
         |  ${keyRows("sigs")}),
         |ref_h AS (
         |  SELECT ${sqlHash64("bk")} % $hr AS b1,
         |         ${sqlHash64("'bl|' || bk")} % $hr AS b2 FROM keys),
         |words AS (
         |  SELECT p // 64 AS widx, bit_or(1::UBIGINT << CAST(p % 64 AS INT)) AS wbits
         |  FROM (SELECT (b1 + i * b2) % $m AS p
         |        FROM ref_h CROSS JOIN (VALUES (0), (1), (2)) AS ks(i))
         |  GROUP BY 1),
         |ssigs AS (
         |  SELECT doc_id, $mins
         |  FROM (SELECT doc_id, $shingleSql FROM documents
         |        WHERE source <> 'src0' AND $minDocSql)
         |  GROUP BY doc_id),
         |skeys AS (
         |  ${keyRows("ssigs")}),
         |sprobe AS (
         |  SELECT doc_id, bk, i, (b1 + i * b2) % $m AS p
         |  FROM (SELECT doc_id, bk, ${sqlHash64("bk")} % $hr AS b1,
         |               ${sqlHash64("'bl|' || bk")} % $hr AS b2 FROM skeys)
         |  CROSS JOIN (VALUES (0), (1), (2)) AS ks(i)),
         |hitks AS (
         |  SELECT doc_id, bk
         |  FROM sprobe LEFT JOIN words ON sprobe.p // 64 = words.widx
         |  GROUP BY doc_id, bk
         |  HAVING sum(CASE WHEN (coalesce(wbits, 0::UBIGINT)
         |                        & (1::UBIGINT << CAST(sprobe.p % 64 AS INT))) <> 0
         |             THEN 1 ELSE 0 END) = 3),
         |nh AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_bands
         |       FROM hitks GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(nh.n_hit_bands, 0) AS BIGINT) AS n_hit_bands,
         |  coalesce(nh.n_hit_bands, 0) > 0 AS flagged
         |FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
         |LEFT JOIN nh USING (doc_id)""".stripMargin
    },

    // Sized streaming-screen twin: the lsh_batch key CTEs + decon_sized's
    // prm/prm2 sizing block (m word-rounded from the DISTINCT band-key
    // count, k = round(m/n·ln2) — positive-half-up rounds identically in
    // both engines; the 2^30-bit saturation cap mirrors Bloom.bitsFor
    // before AND after word-rounding so m agrees at any corpus scale),
    // then the same UBIGINT word math with m, k as columns.
    "q_stream_lsh_sized" -> {
      val hr = 2147483648L // BloomAgg.HashRange
      val mins = MinhashSeeds.map(i => s"min(${mhSql(i)}) AS mh$i").mkString(", ")
      def keyRows(src: String) = (0 until 4)
        .map(b => s"SELECT doc_id, '$b|' || concat_ws('_', mh${2 * b}, mh${2 * b + 1}) AS bk FROM $src")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH sigs AS (
         |  SELECT doc_id, $mins
         |  FROM (SELECT doc_id, $shingleSql FROM documents
         |        WHERE source = 'src0' AND $minDocSql)
         |  GROUP BY doc_id),
         |keys AS (
         |  ${keyRows("sigs")}),
         |dk AS (SELECT DISTINCT bk FROM keys),
         |prm AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    LEAST(((LEAST(CAST(ceil(-count(*) * ln(0.01) / (ln(2) * ln(2))) AS BIGINT),
         |                  1073741824) + 63)
         |      // 64) * 64, 1073741824) AS m
         |  FROM dk),
         |prm2 AS (
         |  SELECT n, m, GREATEST(1, CAST(round(m / n * ln(2)) AS BIGINT)) AS k
         |  FROM prm),
         |ks AS (SELECT unnest(generate_series(0, (SELECT k FROM prm2) - 1)) AS i),
         |ref_h AS (
         |  SELECT ${sqlHash64("bk")} % $hr AS b1,
         |         ${sqlHash64("'bl|' || bk")} % $hr AS b2 FROM keys),
         |words AS (
         |  SELECT p // 64 AS widx, bit_or(1::UBIGINT << CAST(p % 64 AS INT)) AS wbits
         |  FROM (SELECT (b1 + i * b2) % (SELECT m FROM prm2) AS p
         |        FROM ref_h CROSS JOIN ks)
         |  GROUP BY 1),
         |ssigs AS (
         |  SELECT doc_id, $mins
         |  FROM (SELECT doc_id, $shingleSql FROM documents
         |        WHERE source <> 'src0' AND $minDocSql)
         |  GROUP BY doc_id),
         |skeys AS (
         |  ${keyRows("ssigs")}),
         |sprobe AS (
         |  SELECT doc_id, bk, i, (b1 + i * b2) % (SELECT m FROM prm2) AS p
         |  FROM (SELECT doc_id, bk, ${sqlHash64("bk")} % $hr AS b1,
         |               ${sqlHash64("'bl|' || bk")} % $hr AS b2 FROM skeys)
         |  CROSS JOIN ks),
         |hitks AS (
         |  SELECT doc_id, bk
         |  FROM sprobe LEFT JOIN words ON sprobe.p // 64 = words.widx
         |  GROUP BY doc_id, bk
         |  HAVING sum(CASE WHEN (coalesce(wbits, 0::UBIGINT)
         |                        & (1::UBIGINT << CAST(sprobe.p % 64 AS INT))) <> 0
         |             THEN 1 ELSE 0 END) = (SELECT k FROM prm2)),
         |nh AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_bands
         |       FROM hitks GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(nh.n_hit_bands, 0) AS BIGINT) AS n_hit_bands,
         |  coalesce(nh.n_hit_bands, 0) > 0 AS flagged,
         |  (SELECT m FROM prm2) AS m_bits,
         |  (SELECT k FROM prm2) AS k_hashes
         |FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
         |LEFT JOIN nh USING (doc_id)""".stripMargin
    },

    // Stored-screen twin: EXACT band-key membership (the store has no
    // bloom, so no bitset word math) — corpus keys distinct, the
    // hash-picked arrival batch's keys joined against them, hit-band
    // counts per doc. The pick modulus re-derives from the same
    // count-over-100 floor division on both sides.
    "q_stream_lsh_stored" -> {
      val mins = MinhashSeeds.map(i => s"min(${mhSql(i)}) AS mh$i").mkString(", ")
      def keyRows(src: String) = (0 until 4)
        .map(b => s"SELECT doc_id, '$b|' || concat_ws('_', mh${2 * b}, mh${2 * b + 1}) AS bk FROM $src")
        .mkString("\n  UNION ALL\n  ")
      val pick = s"${sqlHash64("'lshq|' || CAST(doc_id AS VARCHAR)")} % " +
        "(SELECT greatest(1, count(*) // 100) FROM documents WHERE source <> 'src0') = 0"
      s"""WITH sigs AS (
         |  SELECT doc_id, $mins
         |  FROM (SELECT doc_id, $shingleSql FROM documents
         |        WHERE source = 'src0' AND $minDocSql)
         |  GROUP BY doc_id),
         |refk AS (SELECT DISTINCT bk FROM (
         |  ${keyRows("sigs")})),
         |ssigs AS (
         |  SELECT doc_id, $mins
         |  FROM (SELECT doc_id, $shingleSql FROM documents
         |        WHERE source <> 'src0' AND $minDocSql AND $pick)
         |  GROUP BY doc_id),
         |skeys AS (
         |  ${keyRows("ssigs")}),
         |nh AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hit_bands
         |       FROM skeys s JOIN refk USING (bk) GROUP BY s.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(nh.n_hit_bands, 0) AS BIGINT) AS n_hit_bands,
         |  coalesce(nh.n_hit_bands, 0) > 0 AS flagged
         |FROM (SELECT doc_id FROM documents
         |      WHERE source <> 'src0' AND $pick) d
         |LEFT JOIN nh USING (doc_id)""".stripMargin
    },

    // Stored-decon twin: exact membership of the picked arrivals'
    // distinct 5-grams in the reference vocabulary — a plain join, no
    // bitset math (the store has no bloom).
    "q_dedup_decon_stored" -> {
      val sh5 = shingleSqlN(5, distinct = true)
      val pick = s"${sqlHash64("'decq|' || CAST(doc_id AS VARCHAR)")} % " +
        "(SELECT greatest(1, count(*) // 100) FROM documents WHERE source <> 'src0') = 0"
      s"""WITH refg AS (
         |  SELECT DISTINCT w AS g
         |  FROM (SELECT $sh5 FROM documents WHERE source = 'src0')),
         |bg AS (
         |  SELECT doc_id, w AS g
         |  FROM (SELECT doc_id, $sh5 FROM documents
         |        WHERE source <> 'src0' AND $pick)),
         |nh AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |       FROM bg JOIN refg USING (g) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(nh.n, 0) AS BIGINT) AS n_ref_grams,
         |  coalesce(nh.n, 0) > 0 AS flagged
         |FROM (SELECT doc_id FROM documents
         |      WHERE source <> 'src0' AND $pick) d
         |LEFT JOIN nh USING (doc_id)""".stripMargin
    },

    // Dynamic twin of the right-sized decon: m, k re-derived in SQL from
    // the same distinct-gram count with the same bitsFor/hashesFor
    // formulas (ceil(-n·ln(fpp)/ln²2) word-rounded; round(m/n·ln2) —
    // positive-half-up rounds identically in both engines; the 2^30-bit
    // saturation cap mirrors Bloom.bitsFor before AND after word-rounding),
    // then the same UBIGINT word math as the static oracle with m, k as
    // columns.
    "q_dedup_decon_sized" -> {
      val hr = 2147483648L // BloomAgg.HashRange
      val sh5 = shingleSqlN(5, distinct = true)
      s"""WITH refg AS (
         |  SELECT DISTINCT w AS g FROM (SELECT $sh5 FROM documents WHERE source = 'src0')),
         |prm AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    LEAST(((LEAST(CAST(ceil(-count(*) * ln(0.01) / (ln(2) * ln(2))) AS BIGINT),
         |                  1073741824) + 63)
         |      // 64) * 64, 1073741824) AS m
         |  FROM refg),
         |prm2 AS (
         |  SELECT n, m, GREATEST(1, CAST(round(m / n * ln(2)) AS BIGINT)) AS k
         |  FROM prm),
         |ks AS (SELECT unnest(generate_series(0, (SELECT k FROM prm2) - 1)) AS i),
         |ref_h AS (
         |  SELECT ${sqlHash64("g")} % $hr AS b1, ${sqlHash64("'bl|' || g")} % $hr AS b2
         |  FROM refg),
         |ref_pos AS (
         |  SELECT (b1 + i * b2) % (SELECT m FROM prm2) AS p
         |  FROM ref_h CROSS JOIN ks),
         |words AS (
         |  SELECT p // 64 AS widx, bit_or(1::UBIGINT << CAST(p % 64 AS INT)) AS wbits
         |  FROM ref_pos GROUP BY 1),
         |probe AS (
         |  SELECT doc_id, g, i, (b1 + i * b2) % (SELECT m FROM prm2) AS p
         |  FROM (SELECT doc_id, w AS g, ${sqlHash64("w")} % $hr AS b1,
         |               ${sqlHash64("'bl|' || w")} % $hr AS b2
         |        FROM (SELECT doc_id, $sh5 FROM documents WHERE source <> 'src0'))
         |  CROSS JOIN ks),
         |hits AS (
         |  SELECT doc_id, g
         |  FROM probe LEFT JOIN words ON probe.p // 64 = words.widx
         |  GROUP BY doc_id, g
         |  HAVING sum(CASE WHEN (coalesce(wbits, 0::UBIGINT)
         |                        & (1::UBIGINT << CAST(probe.p % 64 AS INT))) <> 0
         |             THEN 1 ELSE 0 END) = (SELECT k FROM prm2))
         |SELECT h.doc_id AS doc_id, count(*) AS n_bloom_hits,
         |  CAST(sum(CASE WHEN r.g IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_verified,
         |  (SELECT m FROM prm2) AS m_bits,
         |  (SELECT k FROM prm2) AS k_hashes
         |FROM hits h LEFT JOIN refg r USING (g)
         |GROUP BY h.doc_id""".stripMargin
    },

    "q_dedup_cdc_chunks" -> {
      import org.apache.spark.sql.graft.RollingHash.{B, P}
      val k = 4
      // direct polynomial formula — identical residues to the rolling form
      val coefs = (0 until k).map { j =>
        var c = 1L; for (_ <- 1 until k - j) c = c * B % P; c
      }
      val terms = (0 until k)
        .map(j => s"(th[i + $j] * ${coefs(j)} % $P)").mkString(" + ")
      s"""WITH th AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |    list_transform(string_split(text, ' '), t -> ${sqlHash64("t")} % $P) AS th
         |  FROM documents),
         |sp AS (
         |  SELECT doc_id, toks,
         |    list_transform(generate_series(1, greatest(len(th) - ${k - 1}, 0)),
         |      i -> ($terms) % $P) AS spans
         |  FROM th),
         |ce AS (
         |  SELECT doc_id, toks,
         |    list_sort(list_distinct(list_concat(
         |      list_transform(
         |        list_filter(generate_series(1, len(spans)), i -> spans[i] % 64 < 8),
         |        c -> c + ${k - 1}),
         |      [len(toks)]))) AS ends
         |  FROM sp),
         |chunks AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ends)),
         |    idx -> md5(array_to_string(
         |      toks[(CASE WHEN idx = 1 THEN 1 ELSE ends[idx - 1] + 1 END):(ends[idx])],
         |      ' ')))) AS chunk_md5
         |  FROM ce)
         |SELECT chunk_md5, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
         |  min(doc_id) AS first_doc
         |FROM chunks GROUP BY 1 HAVING count(*) >= 2""".stripMargin
    },

    "q_text_tfidf_cosine" -> {
      val mins = MinhashSeeds
        .map(i => s"min(${mhSql(i)}) AS mh$i").mkString(", ")
      val bandRows = (0 until 4)
        .map(b => s"SELECT doc_id, $b AS band, concat_ws('_', mh${2 * b}, mh${2 * b + 1}) AS bucket FROM sigs")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH sigs AS (
         |  SELECT doc_id, $mins
         |  FROM (SELECT doc_id, $shingleSql FROM documents WHERE $minDocSql)
         |  GROUP BY doc_id),
         |bands AS (
         |  $bandRows),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |tf AS (
         |  SELECT doc_id, w, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY doc_id, w),
         |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         |wts AS (
         |  SELECT doc_id, w, tf * (100000 // df) AS wt
         |  FROM tf JOIN dfreq USING (w)),
         |norms AS (SELECT doc_id, CAST(sum(wt * wt) AS BIGINT) AS n2 FROM wts GROUP BY doc_id),
         |dots AS (
         |  SELECT doc1, doc2, CAST(sum(a.wt * b.wt) AS BIGINT) AS dot
         |  FROM pairs
         |  JOIN wts a ON doc1 = a.doc_id
         |  JOIN wts b ON doc2 = b.doc_id AND a.w = b.w
         |  GROUP BY doc1, doc2)
         |SELECT doc1, doc2,
         |  round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos_tfidf
         |FROM dots
         |JOIN norms na ON doc1 = na.doc_id
         |JOIN norms nb ON doc2 = nb.doc_id""".stripMargin
    },

    "q_sample_importance" -> {
      val sw = Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH w AS (
         |  SELECT doc_id,
         |    least(len(list_filter(string_split(text, ' '), t -> t IN ($sw))) * 2.0
         |          / len(string_split(text, ' ')), 1.0) AS w
         |  FROM documents)
         |SELECT doc_id, round(w, 6) AS weight
         |FROM w
         |WHERE ${sqlHash64("'is|' || CAST(doc_id AS VARCHAR)")} % 1000000
         |      < floor(w * 1000000)""".stripMargin
    },

    "q_text_vocab_coverage" ->
      """WITH tc AS (
        |  SELECT w, count(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),
        |ranked AS (SELECT
        |    row_number() OVER (ORDER BY c DESC, w) AS rank,
        |    sum(c) OVER (ORDER BY c DESC, w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER () AS total
        |  FROM tc)
        |SELECT CAST(target AS DOUBLE) AS target, min(rank) AS vocab_size,
        |  CAST(max(total) AS BIGINT) AS total_tokens
        |FROM ranked CROSS JOIN (VALUES (0.5), (0.9), (0.99)) AS t(target)
        |WHERE CAST(cum AS DOUBLE) >= CAST(target AS DOUBLE) * CAST(total AS DOUBLE)
        |GROUP BY target""".stripMargin,

    "q_text_bpe" -> bpeOracleSql,

    "q_dedup_minhash_sig" -> {
      val mins = MinhashSeeds
        .map(i => s"min(${mhSql(i)}) AS mh$i").mkString(",\n  ")
      s"""SELECT doc_id, $mins
         |FROM (SELECT doc_id, $shingleSql FROM documents WHERE $minDocSql)
         |GROUP BY doc_id""".stripMargin
    },

    "q_dedup_minhash_pairs" -> {
      val mins = MinhashSeeds
        .map(i => s"min(${mhSql(i)}) AS mh$i").mkString(", ")
      val bandRows = (0 until 4)
        .map(b => s"SELECT doc_id, $b AS band, concat_ws('_', mh${2 * b}, mh${2 * b + 1}) AS bucket FROM sigs")
        .mkString("\n  UNION ALL\n  ")
      val matches = MinhashSeeds.map(i => s"CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH sigs AS (
         |  SELECT doc_id, $mins
         |  FROM (SELECT doc_id, $shingleSql FROM documents WHERE $minDocSql)
         |  GROUP BY doc_id),
         |bands AS (
         |  $bandRows),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id)
         |SELECT doc1, doc2,
         |  round(CAST($matches AS DOUBLE) / ${MinhashSeeds.size}, 4) AS est_jaccard
         |FROM pairs
         |JOIN sigs x ON doc1 = x.doc_id
         |JOIN sigs y ON doc2 = y.doc_id""".stripMargin
    },

    "q_text_quality_calibrated" ->
      """WITH docs AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |thr AS (SELECT quantile_cont(n_toks, 0.25) AS p25 FROM docs)
        |SELECT lang, count(*) AS n_kept,
        |  CAST(min(n_toks) AS BIGINT) AS min_kept_toks
        |FROM docs CROSS JOIN thr
        |WHERE CAST(n_toks AS DOUBLE) >= p25
        |GROUP BY lang""".stripMargin,

    "q_text_ccnet_buckets" ->
      """WITH docs AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |thr AS (
        |  SELECT lang, quantile_cont(n_toks, 0.25) AS p25,
        |    quantile_cont(n_toks, 0.75) AS p75
        |  FROM docs GROUP BY lang)
        |SELECT lang, bucket, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS sum_toks
        |FROM (
        |  SELECT docs.lang,
        |    CASE WHEN CAST(n_toks AS DOUBLE) <= p25 THEN 'tail'
        |         WHEN CAST(n_toks AS DOUBLE) <= p75 THEN 'middle'
        |         ELSE 'head' END AS bucket,
        |    n_toks
        |  FROM docs JOIN thr USING (lang))
        |GROUP BY lang, bucket""".stripMargin,

    "q_text_entropy" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |pc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_toks,
        |  round(log2(sum(c)) - sum(CAST(c AS DOUBLE) * log2(c)) / sum(c), 4)
        |    AS entropy
        |FROM pc GROUP BY doc_id""".stripMargin,

    "q_text_repetition" ->
      s"""WITH bg AS (
         |  SELECT doc_id, ${shingleSqlN(2, distinct = false)}
         |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
         |pc AS (SELECT doc_id, w, count(*) AS c FROM bg GROUP BY 1, 2)
         |SELECT doc_id,
         |  CAST(sum(c) AS BIGINT) AS n_bigrams,
         |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_frac,
         |  round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS distinct_frac
         |FROM pc GROUP BY doc_id""".stripMargin,

    "q_text_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |freq AS (SELECT w, count(*) AS wn FROM toks GROUP BY w),
        |tot AS (SELECT CAST(sum(wn) AS DOUBLE) AS tot FROM freq)
        |SELECT doc_id,
        |  round(avg(log10(wn / tot)), 4) AS avg_logprob,
        |  count(*) AS n_tokens
        |FROM toks JOIN freq USING (w) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin,

    "q_text_chi2_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |lab AS (SELECT doc_id, (lang = 'en') AS pos FROM documents),
        |tl AS (SELECT t.w, l.pos FROM toks t JOIN lab l USING (doc_id)),
        |cnt AS (
        |  SELECT w,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM tl GROUP BY w),
        |tot AS (
        |  SELECT CAST(sum(a) AS BIGINT) AS tp, CAST(sum(b) AS BIGINT) AS tn
        |  FROM cnt)
        |SELECT w, a, b,
        |  CASE WHEN CAST(a + b AS HUGEINT) * (tp + tn - a - b) * tp * tn > 0
        |    THEN round(
        |      CAST(CAST(tp + tn AS HUGEINT) *
        |        CAST(a * tn - b * tp AS HUGEINT) *
        |        CAST(a * tn - b * tp AS HUGEINT) AS DOUBLE) /
        |      CAST(CAST(a + b AS HUGEINT) * (tp + tn - a - b) * tp * tn
        |        AS DOUBLE), 4)
        |  END AS chi2
        |FROM cnt CROSS JOIN tot""".stripMargin,

    "q_text_nb_classifier" ->
      """WITH lab AS (SELECT doc_id, (lang = 'en') AS pos FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tl AS (SELECT t.doc_id, t.w, l.pos FROM toks t JOIN lab l USING (doc_id)),
        |cnt AS (
        |  SELECT w,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
        |    CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS c_neg
        |  FROM tl GROUP BY w),
        |tot AS (
        |  SELECT CAST(sum(c_pos) AS BIGINT) AS tp,
        |    CAST(sum(c_neg) AS BIGINT) AS tn, count(*) AS v FROM cnt),
        |wts AS (
        |  SELECT w, CAST(round(ln(((c_pos + 1.0) * (tn + v)) /
        |    ((c_neg + 1.0) * (tp + v))) * 1000000) AS BIGINT) AS wt
        |  FROM cnt CROSS JOIN tot),
        |pri AS (
        |  SELECT CAST(round(ln(
        |    (1.0 * sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)) /
        |    sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)) * 1000000) AS BIGINT)
        |    AS prior
        |  FROM documents)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  round((p.prior + CAST(sum(wt) AS BIGINT)) / 1000000.0, 6) AS nb_score,
        |  (p.prior + CAST(sum(wt) AS BIGINT)) > 0 AS pred_en
        |FROM tl t JOIN wts USING (w) CROSS JOIN pri p
        |GROUP BY t.doc_id, p.prior""".stripMargin,

    // Same window/block/tiebreak definitions; the candidate set is the
    // algorithm's DEFINITION so both engines compute it identically.
    "q_dedup_sorted_neighborhood" ->
      s"""WITH rn AS (
         |  SELECT doc_id, lang, substr(text, 1, 8) AS blk,
         |    CAST(row_number() OVER (
         |      PARTITION BY lang, substr(text, 1, 8)
         |      ORDER BY text, doc_id) AS BIGINT) AS rn
         |  FROM documents),
         |pairs AS (
         |  SELECT least(a.doc_id, b.doc_id) AS doc1,
         |    greatest(a.doc_id, b.doc_id) AS doc2
         |  FROM rn a JOIN rn b ON a.lang = b.lang AND a.blk = b.blk
         |    AND b.rn > a.rn AND b.rn <= a.rn + 3),
         |sh AS (SELECT doc_id, $shingleSql FROM documents WHERE $minDocSql),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT p.doc1, p.doc2, count(*) AS common
         |  FROM pairs p
         |  JOIN sh x ON x.doc_id = p.doc1
         |  JOIN sh y ON y.doc_id = p.doc2 AND y.w = x.w
         |  GROUP BY 1, 2)
         |SELECT doc1, doc2,
         |  round(CAST(common AS DOUBLE) / (s1.sz + s2.sz - common), 4)
         |    AS jaccard
         |FROM inter
         |JOIN sizes s1 ON doc1 = s1.doc_id
         |JOIN sizes s2 ON doc2 = s2.doc_id
         |WHERE round(CAST(common AS DOUBLE) / (s1.sz + s2.sz - common), 4)
         |  >= 0.5""".stripMargin,

    "q_text_pmi" ->
      s"""WITH big AS (
         |  SELECT string_split(w, ' ')[1] AS w1, string_split(w, ' ')[2] AS w2,
         |    count(*) AS c12
         |  FROM (SELECT doc_id, ${shingleSqlN(2, distinct = false)}
         |        FROM documents)
         |  GROUP BY 1, 2),
         |cl AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c_l FROM big GROUP BY 1),
         |cr AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c_r FROM big GROUP BY 1),
         |tot AS (SELECT CAST(sum(c12) AS BIGINT) AS nn FROM big)
         |SELECT w1, w2, c12, c_l, c_r,
         |  CAST(round(ln(CAST(c12 * nn AS DOUBLE) / (c_l * c_r)) * 1000000)
         |    AS BIGINT) / 1000000.0 AS pmi
         |FROM big JOIN cl USING (w1) JOIN cr USING (w2) CROSS JOIN tot
         |WHERE c12 >= 3""".stripMargin,

    "q_sample_split" -> {
      val h = s"${sqlHash64("'split|' || CAST(doc_id AS VARCHAR)")} % 100"
      s"""SELECT lang,
         |  CASE WHEN $h < 80 THEN 'train'
         |       WHEN $h < 90 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1, 2""".stripMargin
    },

    "q_dedup_canonical" ->
      s"""$componentsCtes,
         |comp AS (SELECT doc_id, label AS cluster FROM l4)
         |SELECT cluster,
         |  first(doc_id ORDER BY n_chars DESC, doc_id ASC) AS keep_doc,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM comp JOIN documents USING (doc_id)
         |GROUP BY cluster""".stripMargin,

    // Series bound derives from max(n_chars) (DuckDB can't subquery-bound
    // generate_series, but scalar range() can), so a future fixture with
    // longer docs stays covered instead of silently capping at 256 chunks.
    "q_text_chunk" ->
      """WITH series AS (
        |  SELECT unnest(range(0, (SELECT CAST(ceil(max(n_chars) / 192.0)
        |    AS BIGINT) FROM documents))) AS k)
        |SELECT doc_id, k AS chunk_id, k * 192 AS chunk_start,
        |  least(256, n_chars - k * 192) AS chunk_len,
        |  md5(substr(text, CAST(k * 192 + 1 AS INT), 256)) AS chunk_md5
        |FROM documents CROSS JOIN series
        |WHERE n_chars > 0 AND k <= (n_chars + 191) // 192 - 1""".stripMargin,

    "q_sample_token_budget" -> {
      val h = sqlHash64("'tb|' || CAST(doc_id AS VARCHAR)")
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         |    $h AS h
         |  FROM documents),
         |c AS (
         |  SELECT source, n_toks,
         |    sum(n_toks) OVER (PARTITION BY source ORDER BY h, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_source_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS tokens_total,
         |  CAST(sum(CASE WHEN cum <= 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN cum <= 2000 THEN n_toks ELSE 0 END) AS BIGINT) AS tokens_kept
         |FROM c GROUP BY source""".stripMargin
    },

    "q_sample_weighted" -> {
      val h = sqlHash64("'mix|' || CAST(doc_id AS VARCHAR)")
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents
         |WHERE $h % 10000 < CAST((CASE CAST(substr(source, 4) AS INT) % 4
         |    WHEN 0 THEN 1.0 WHEN 1 THEN 0.5 WHEN 2 THEN 0.25
         |    ELSE 0.1 END) * 10000 AS BIGINT)
         |GROUP BY source""".stripMargin
    },

    "q_sample_bottomk" -> {
      val h = sqlHash64("'bk|' || CAST(doc_id AS VARCHAR)")
      s"""SELECT lang, doc_id FROM (
         |  SELECT lang, CAST(doc_id AS VARCHAR) AS doc_id,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY $h, CAST(doc_id AS VARCHAR)) AS rn
         |  FROM documents) WHERE rn <= 5""".stripMargin
    },

    "q_sample_domain_cap" -> {
      val h = sqlHash64("'cap|' || CAST(doc_id AS VARCHAR)")
      s"""SELECT source, n_source_docs, doc_id FROM (
         |  SELECT source, CAST(count(*) OVER (PARTITION BY source)
         |      AS BIGINT) AS n_source_docs,
         |    CAST(doc_id AS VARCHAR) AS doc_id,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY $h, CAST(doc_id AS VARCHAR)) AS rn
         |  FROM documents) WHERE rn <= 10""".stripMargin
    },

    // the oracle recomputes ceil(n/32) itself — the Spark side's one
    // driver-held scalar is just this subquery's value.
    "q_sample_inbatch_negatives" ->
      s"""WITH nb AS (
         |  SELECT greatest(1, CAST(ceil(count(*) / 32.0) AS BIGINT)) AS nb
         |  FROM documents),
         |b AS (
         |  SELECT doc_id,
         |    ${sqlHash64("'negb0|' || CAST(doc_id AS VARCHAR)")} % nb.nb AS batch
         |  FROM documents, nb)
         |SELECT a.batch AS batch, a.doc_id AS anchor_id, x.doc_id AS neg_id
         |FROM b a JOIN b x ON a.batch = x.batch AND a.doc_id <> x.doc_id""".stripMargin,

    "q_sample_temperature" -> {
      val h = sqlHash64("'temp|' || CAST(doc_id AS VARCHAR)")
      s"""WITH stats AS (
         |  SELECT lang, CAST(count(*) AS DOUBLE) AS n_l
         |  FROM documents GROUP BY lang),
         |tot AS (
         |  SELECT sum(n_l) AS n_tot, sum(pow(n_l, 0.5)) AS sum_w
         |  FROM stats),
         |rates AS (
         |  SELECT lang, round(pow(n_l, 0.5) / sum_w * n_tot / n_l, 6) AS c
         |  FROM stats CROSS JOIN tot),
         |copies AS (
         |  SELECT d.doc_id, d.lang,
         |    CAST(floor(c) AS BIGINT) +
         |      (CASE WHEN $h % 10000 <
         |        CAST(floor((c - floor(c)) * 10000) AS BIGINT)
         |      THEN 1 ELSE 0 END) AS n_copies
         |  FROM documents d JOIN rates USING (lang))
         |SELECT doc_id, lang, unnest(range(1, n_copies + 1)) AS copy
         |FROM copies WHERE n_copies > 0""".stripMargin
    },

    // row-by-row replay of Pack.packGreedy's fold, partitioned by shard
    "q_pack_sequences" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id % 8 AS shard, doc_id, n_chars AS cost,
        |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        |  FROM documents),
        |pack AS (
        |  SELECT shard, rn, doc_id, cost,
        |    CAST(0 AS BIGINT) AS bin, cost AS fill
        |  FROM docs WHERE rn = 1
        |  UNION ALL
        |  SELECT d.shard, d.rn, d.doc_id, d.cost,
        |    CASE WHEN p.fill + d.cost <= 4096 THEN p.bin ELSE p.bin + 1 END,
        |    CASE WHEN p.fill + d.cost <= 4096 THEN p.fill + d.cost ELSE d.cost END
        |  FROM pack p JOIN docs d ON d.shard = p.shard AND d.rn = p.rn + 1)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard, bin FROM pack""".stripMargin,

    "q_dedup_decontaminate" -> {
      val mins = MinhashSeeds
        .map(i => s"min(${mhSql(i)}) AS mh$i").mkString(", ")
      val bandRows = (0 until 4)
        .map(b => s"SELECT doc_id, $b AS band, concat_ws('_', mh${2 * b}, mh${2 * b + 1}) AS bucket FROM sigs")
        .mkString("\n  UNION ALL\n  ")
      val matches = MinhashSeeds.map(i => s"CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH sigs AS (
         |  SELECT doc_id, $mins
         |  FROM (SELECT doc_id, $shingleSql FROM documents WHERE $minDocSql)
         |  GROUP BY doc_id),
         |bands AS (
         |  $bandRows),
         |src AS (SELECT doc_id, source FROM documents),
         |cand AS (
         |  SELECT DISTINCT bc.doc_id AS doc_id, br.doc_id AS ref_id
         |  FROM bands bc JOIN src sc ON sc.doc_id = bc.doc_id AND sc.source <> 'src0'
         |  JOIN bands br ON bc.band = br.band AND bc.bucket = br.bucket
         |  JOIN src sr ON sr.doc_id = br.doc_id AND sr.source = 'src0')
         |SELECT c.doc_id, c.ref_id,
         |  round(CAST($matches AS DOUBLE) / ${MinhashSeeds.size}, 4) AS est_jaccard
         |FROM cand c
         |JOIN sigs x ON c.doc_id = x.doc_id
         |JOIN sigs y ON c.ref_id = y.doc_id""".stripMargin
    },

    "q_dedup_lsh_quality" -> {
      val mins = MinhashSeeds.map(i => s"min(${mhSql(i)}) AS mh$i").mkString(", ")
      val bandRows = (0 until 4)
        .map(b => s"SELECT doc_id, $b AS band, concat_ws('_', mh${2 * b}, mh${2 * b + 1}) AS bucket FROM sigs")
        .mkString("\n  UNION ALL\n  ")
      val matches = MinhashSeeds
        .map(i => s"CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH sh AS (
         |  SELECT doc_id, $shingleSql FROM documents WHERE $minDocSql),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.w = b.w AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT doc1, doc2 FROM inter
         |  JOIN sz sa ON doc1 = sa.doc_id
         |  JOIN sz sb ON doc2 = sb.doc_id
         |  WHERE 2 * n_inter >= sa.sz + sb.sz - n_inter),
         |sigs AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandRows),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |flag AS (
         |  SELECT doc1, doc2 FROM cand
         |  JOIN sigs x ON doc1 = x.doc_id
         |  JOIN sigs y ON doc2 = y.doc_id
         |  WHERE round(CAST($matches AS DOUBLE) / ${MinhashSeeds.size}, 4) >= 0.5),
         |h AS (SELECT count(*) AS n_hit FROM flag JOIN truth USING (doc1, doc2)),
         |t AS (SELECT count(*) AS n_true FROM truth),
         |c AS (SELECT count(*) AS n_cand FROM cand),
         |f AS (SELECT count(*) AS n_flag FROM flag)
         |SELECT CAST(n_true AS BIGINT) AS n_true, CAST(n_cand AS BIGINT) AS n_cand,
         |  CAST(n_flag AS BIGINT) AS n_flag, CAST(n_hit AS BIGINT) AS n_hit,
         |  CASE WHEN n_flag > 0
         |    THEN round(n_hit / CAST(n_flag AS DOUBLE), 4) END AS prec,
         |  CASE WHEN n_true > 0
         |    THEN round(n_hit / CAST(n_true AS DOUBLE), 4) END AS rec
         |FROM t CROSS JOIN c CROSS JOIN f CROSS JOIN h""".stripMargin
    },

    "q_dedup_components" -> componentsOracleSql,
    "q_dedup_components_ckpt" -> componentsOracleSql,

    // Cluster-split twin: the components CTE chain, singleton coalesce,
    // the same cluster-hash split, and an independent recomputation of
    // the straddle count (provably 0 — split is a function of cluster).
    "q_sample_cluster_split" -> {
      val h = sqlHash64("'split|' || CAST(cluster AS VARCHAR)")
      s"""$componentsCtes,
         |clustered AS (
         |  SELECT d.doc_id, coalesce(l4.label, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN l4 ON l4.doc_id = d.doc_id),
         |sp AS (
         |  SELECT doc_id, cluster,
         |    CASE WHEN $h % 10 < 8 THEN 'train' ELSE 'eval' END AS split
         |  FROM clustered),
         |sides AS (
         |  SELECT split, CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(DISTINCT cluster) AS BIGINT) AS nc
         |  FROM sp GROUP BY split),
         |cross_p AS (
         |  SELECT CAST(count(*) FILTER (a.split != b.split) AS BIGINT)
         |    AS n_cross_pairs
         |  FROM ed JOIN sp a ON a.doc_id = ed.s JOIN sp b ON b.doc_id = ed.t
         |  WHERE ed.s < ed.t)
         |SELECT
         |  (SELECT n FROM sides WHERE split = 'train') AS n_train_docs,
         |  (SELECT nc FROM sides WHERE split = 'train') AS n_train_clusters,
         |  (SELECT n FROM sides WHERE split = 'eval') AS n_eval_docs,
         |  (SELECT nc FROM sides WHERE split = 'eval') AS n_eval_clusters,
         |  (SELECT n_cross_pairs FROM cross_p) AS n_cross_pairs""".stripMargin
    },

    // two-star converges to exactly the min-label components, so the
    // 4-iteration propagation oracle is shared (the fixture's clusters
    // converge within 4 — pinned by the components_fp row).
    "q_dedup_cc_twostar" -> componentsOracleSql,

    "q_dedup_multipass" -> multipassOracleSql,

    // Shared legitimately: the fixture's cluster diameters are < 4, so the
    // 4-iteration unrolled propagation IS the fixpoint on this data.
    "q_dedup_components_fp" -> componentsOracleSql,

    "q_dedup_jaccard_verify" -> {
      val mins = MinhashSeeds
        .map(i => s"min(${mhSql(i)}) AS mh$i").mkString(", ")
      val bandRows = (0 until 4)
        .map(b => s"SELECT doc_id, $b AS band, concat_ws('_', mh${2 * b}, mh${2 * b + 1}) AS bucket FROM sigs")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH sh AS (
         |  SELECT doc_id, $shingleSql FROM documents WHERE $minDocSql),
         |sigs AS (
         |  SELECT doc_id, $mins FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandRows),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT p.doc1, p.doc2, count(*) AS common
         |  FROM pairs p
         |  JOIN sh x ON x.doc_id = p.doc1
         |  JOIN sh y ON y.doc_id = p.doc2 AND y.w = x.w
         |  GROUP BY p.doc1, p.doc2)
         |SELECT doc1, doc2,
         |  round(CAST(common AS DOUBLE) / (s1.sz + s2.sz - common), 4) AS jaccard
         |FROM inter
         |JOIN sizes s1 ON doc1 = s1.doc_id
         |JOIN sizes s2 ON doc2 = s2.doc_id""".stripMargin
    },

    "q_dedup_containment" -> {
      val mins = MinhashSeeds
        .map(i => s"min(${mhSql(i)}) AS mh$i").mkString(", ")
      val bandRows = (0 until 4)
        .map(b => s"SELECT doc_id, $b AS band, concat_ws('_', mh${2 * b}, mh${2 * b + 1}) AS bucket FROM sigs")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH sh AS (
         |  SELECT doc_id, $shingleSql FROM documents WHERE $minDocSql),
         |sigs AS (
         |  SELECT doc_id, $mins FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandRows),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT p.doc1, p.doc2, count(*) AS common
         |  FROM pairs p
         |  JOIN sh x ON x.doc_id = p.doc1
         |  JOIN sh y ON y.doc_id = p.doc2 AND y.w = x.w
         |  GROUP BY p.doc1, p.doc2)
         |SELECT doc1, doc2,
         |  round(CAST(common AS DOUBLE) / s1.sz, 4) AS cont1,
         |  round(CAST(common AS DOUBLE) / s2.sz, 4) AS cont2
         |FROM inter
         |JOIN sizes s1 ON doc1 = s1.doc_id
         |JOIN sizes s2 ON doc2 = s2.doc_id""".stripMargin
    },

    // Brute-force all-pairs at τ = 3/5 — the DEFINITION the prefix-filter
    // join must reproduce exactly (losslessness). Threshold compare is
    // integer cross-multiplied on both sides; jacc itself is an IEEE
    // division of two exact integers, correctly rounded in both engines.
    "q_dedup_prefix_filter" ->
      s"""WITH sh AS (
         |  SELECT doc_id, $shingleSql FROM documents WHERE $minDocSql),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.w = b.w AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc1, doc2, sa.sz AS n_a, sb.sz AS n_b, n_inter,
         |  round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6)
         |    AS jacc
         |FROM inter
         |JOIN sz sa ON doc1 = sa.doc_id
         |JOIN sz sb ON doc2 = sb.doc_id
         |WHERE 5 * n_inter >= 3 * (sa.sz + sb.sz - n_inter)""".stripMargin,

    "q_dedup_winnow" -> {
      import org.apache.spark.sql.graft.RollingHash.{B, P}
      val k = 8
      val w = 4
      // direct polynomial formula — identical residues to the rolling form
      val coefs = (0 until k).map { j =>
        var c = 1L; for (_ <- 1 until k - j) c = c * B % P; c
      }
      def terms(th: String) = (0 until k)
        .map(j => s"($th[i + $j] * ${coefs(j)} % $P)").mkString(" + ")
      s"""WITH th AS (
         |  SELECT doc_id,
         |    list_transform(string_split(text, ' '),
         |      t -> ${sqlHash64("t")} % $P) AS th1,
         |    list_transform(string_split(text, ' '),
         |      t -> ${sqlHash64("'sp2|' || t")} % $P) AS th2
         |  FROM documents),
         |spans AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(1, greatest(len(th1) - ${k - 1}, 0)),
         |      i -> ((${terms("th1")}) % $P) * $P + ((${terms("th2")}) % $P)) AS sp
         |  FROM th),
         |wins AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(generate_series(1, len(sp) - ${w - 1}),
         |      i -> list_min(sp[i:i + ${w - 1}])))) AS fp
         |  FROM spans WHERE len(sp) >= $w)
         |SELECT fp, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
         |FROM wins GROUP BY fp
         |HAVING count(DISTINCT doc_id) >= 2""".stripMargin
    },

    "q_dedup_simhash" -> {
      val bitSums = (0 until 16).map { b =>
        s"""CASE WHEN sum(CASE WHEN ((${sqlHash64("w")} >> $b) & 1) = 1 THEN 1 ELSE -1 END) > 0
           | THEN CAST(${1L << b} AS BIGINT) ELSE 0 END""".stripMargin.replace("\n", " ")
      }.mkString(" + ")
      s"""SELECT doc_id, CAST($bitSums AS BIGINT) AS simhash16
         |FROM (SELECT doc_id, $tokSetSql AS w FROM documents)
         |GROUP BY doc_id""".stripMargin
    },

    "q_dedup_simhash_hamming" -> {
      val bits = 60; val blocks = 4; val blockBits = 15; val maxDist = 3
      val bitSums = (0 until bits).map { b =>
        s"""CASE WHEN sum(CASE WHEN ((${sqlHash64("w")} >> $b) & 1) = 1 THEN 1 ELSE -1 END) > 0
           | THEN CAST(${1L << b} AS BIGINT) ELSE 0 END""".stripMargin.replace("\n", " ")
      }.mkString(" + ")
      val blkVals = (0 until blocks).map(k => s"($k)").mkString(", ")
      s"""WITH sigs AS (
         |  SELECT doc_id, CAST($bitSums AS BIGINT) AS sim
         |  FROM (SELECT doc_id, $tokSetSql AS w FROM documents)
         |  GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, sim, blk,
         |    (sim >> (blk * $blockBits)) & ${(1L << blockBits) - 1} AS blkval
         |  FROM sigs CROSS JOIN (VALUES $blkVals) AS t(blk)),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2,
         |    x.sim AS sim1, y.sim AS sim2
         |  FROM bands x JOIN bands y
         |    ON x.blk = y.blk AND x.blkval = y.blkval AND x.doc_id < y.doc_id)
         |SELECT doc1, doc2, CAST(bit_count(xor(sim1, sim2)) AS BIGINT) AS hamming
         |FROM pairs WHERE bit_count(xor(sim1, sim2)) <= $maxDist""".stripMargin
    },

    "q_dedup_simhash_canonical" -> {
      val bits = 60; val blocks = 4; val blockBits = 15; val maxDist = 3
      val bitSums = (0 until bits).map { b =>
        s"""CASE WHEN sum(CASE WHEN ((${sqlHash64("w")} >> $b) & 1) = 1 THEN 1 ELSE -1 END) > 0
           | THEN CAST(${1L << b} AS BIGINT) ELSE 0 END""".stripMargin.replace("\n", " ")
      }.mkString(" + ")
      val blkVals = (0 until blocks).map(k => s"($k)").mkString(", ")
      s"""WITH canon AS (
         |  SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
         |  FROM documents GROUP BY md5(text)),
         |cd AS (
         |  SELECT c.doc_id, d.text, c.n_copies
         |  FROM canon c JOIN documents d ON c.doc_id = d.doc_id),
         |sigs AS (
         |  SELECT doc_id, CAST($bitSums AS BIGINT) AS sim
         |  FROM (SELECT doc_id, $tokSetSql AS w FROM cd)
         |  GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, sim, blk,
         |    (sim >> (blk * $blockBits)) & ${(1L << blockBits) - 1} AS blkval
         |  FROM sigs CROSS JOIN (VALUES $blkVals) AS t(blk)),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2,
         |    x.sim AS sim1, y.sim AS sim2
         |  FROM bands x JOIN bands y
         |    ON x.blk = y.blk AND x.blkval = y.blkval AND x.doc_id < y.doc_id)
         |SELECT p.doc1, p.doc2,
         |  CAST(bit_count(xor(sim1, sim2)) AS BIGINT) AS hamming,
         |  c1.n_copies AS n_copies1, c2.n_copies AS n_copies2
         |FROM pairs p
         |JOIN cd c1 ON p.doc1 = c1.doc_id
         |JOIN cd c2 ON p.doc2 = c2.doc_id
         |WHERE bit_count(xor(sim1, sim2)) <= $maxDist""".stripMargin
    },

    "q_text_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_calc,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
        |  round(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |    / len(string_split(text, ' ')), 4) AS avg_token_len,
        |  round(CAST(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
        |    / len(string_split(text, ' ')), 6) AS stopword_ratio
        |FROM documents""".stripMargin,

    "q_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS re_tokens
        |FROM documents""".stripMargin,

    "q_text_quality_filter" ->
      """SELECT * FROM (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    round(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |      / len(string_split(text, ' ')), 4) AS avg_token_len,
        |    round(CAST(len(list_filter(string_split(text, ' '),
        |        w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
        |      / len(string_split(text, ' ')), 6) AS stopword_ratio
        |  FROM documents)
        |WHERE n_tokens BETWEEN 10 AND 1000
        |  AND avg_token_len BETWEEN 2.0 AND 12.0
        |  AND stopword_ratio > 0.0""".stripMargin,

    "q_text_gopher_rules" ->
      """SELECT doc_id, lang, n_words, mean_word_len, frac_alpha, n_stop,
        |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000
        |    AND mean_word_len BETWEEN 3.0 AND 10.0
        |    AND frac_alpha >= 0.8 AND n_stop >= 2
        |    THEN 1 ELSE 0 END AS BIGINT) AS passes
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    round(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |      / len(string_split(text, ' ')), 4) AS mean_word_len,
        |    round(CAST(len(list_filter(string_split(text, ' '),
        |        w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
        |      / len(string_split(text, ' ')), 6) AS frac_alpha,
        |    CAST(len(list_distinct(list_filter(string_split(text, ' '),
        |        w -> w IN ('the', 'a', 'of', 'and', 'to')))) AS BIGINT) AS n_stop
        |  FROM documents)""".stripMargin,

    "q_text_scrub" ->
      """SELECT doc_id,
        |  CAST(length(s) AS BIGINT) AS scrubbed_len,
        |  md5(s) AS scrubbed_md5
        |FROM (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text, 'https?://\S+', '<URL>', 'g'),
        |        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
        |      '[0-9]+', '<NUM>', 'g') AS s
        |  FROM documents)""".stripMargin,

    "q_text_langid" -> {
      // CASE evaluated in descending lang order so equal scores pick the
      // lexicographically greatest lang — same tiebreak as array_max over
      // struct(score, lang) on the Spark side.
      val langs = LangProfiles.toSeq.sortBy(_._1)
      def scoreSql(ws: Seq[String]) =
        s"len(list_filter(string_split(text, ' '), w -> w IN (${ws.map(w => s"'$w'").mkString(", ")})))"
      val scoreCols = langs.map { case (l, ws) => s"${scoreSql(ws)} AS s_$l" }.mkString(",\n  ")
      val m = s"greatest(${langs.map(l => s"s_${l._1}").mkString(", ")})"
      val pick = langs.map(_._1).sorted.reverse
        .map(l => s"WHEN s_$l = $m THEN '$l'").mkString(" ")
      s"""WITH scored AS (SELECT doc_id, $scoreCols FROM documents)
         |SELECT doc_id, CASE $pick END AS pred_lang, CAST($m AS BIGINT) AS score
         |FROM scored""".stripMargin
    },

    "q_text_fingerprint" -> {
      val h = sqlHash64("w")
      s"""SELECT doc_id,
         |  min($h) AS fp_min,
         |  CAST(count(*) FILTER ($h % 16 = 0) AS BIGINT) AS n_sel,
         |  CAST(coalesce(bit_xor($h) FILTER ($h % 16 = 0), 0) AS BIGINT) AS fp_xor
         |FROM (SELECT doc_id, ${shingleSqlN(5, distinct = false)} FROM documents
         |      WHERE len(string_split(text, ' ')) >= 5)
         |GROUP BY doc_id""".stripMargin
    },

    "q_text_levenshtein" -> {
      val mins = MinhashSeeds
        .map(i => s"min(${mhSql(i)}) AS mh$i").mkString(", ")
      val bandRows = (0 until 4)
        .map(b => s"SELECT doc_id, $b AS band, concat_ws('_', mh${2 * b}, mh${2 * b + 1}) AS bucket FROM sigs")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH sigs AS (
         |  SELECT doc_id, $mins
         |  FROM (SELECT doc_id, $shingleSql FROM documents WHERE $minDocSql)
         |  GROUP BY doc_id),
         |bands AS (
         |  $bandRows),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id)
         |SELECT p.doc1, p.doc2,
         |  CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS BIGINT) AS edit_dist
         |FROM pairs p
         |JOIN documents a ON a.doc_id = p.doc1
         |JOIN documents b ON b.doc_id = p.doc2""".stripMargin
    },

    "q_text_rollhash" -> {
      import org.apache.spark.sql.graft.RollingHash.{B, P}
      val k = 5
      // direct polynomial formula — identical residues to the rolling form
      val coefs = (0 until k).map { j =>
        var c = 1L; for (_ <- 1 until k - j) c = c * B % P; c
      }
      val terms = (0 until k).map(j => s"(th[i + $j] * ${coefs(j)} % $P)").mkString(" + ")
      s"""WITH th AS (
         |  SELECT doc_id,
         |    list_transform(string_split(text, ' '),
         |      t -> ${sqlHash64("t")} % $P) AS th
         |  FROM documents),
         |w AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(1, greatest(len(th) - ${k - 1}, 0)),
         |      i -> ($terms) % $P) AS rh
         |  FROM th)
         |SELECT doc_id, CAST(len(rh) AS BIGINT) AS n_windows,
         |  list_min(rh) AS rh_min, list_max(rh) AS rh_max
         |FROM w WHERE len(rh) > 0""".stripMargin
    },

    "q_sim_cosine_topk" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |q AS (SELECT i, x AS qx FROM e WHERE vec_id = 0),
        |dots AS (
        |  SELECT e.vec_id,
        |    sum(e.x * q.qx) AS dot,
        |    sqrt(sum(e.x * e.x)) AS n1,
        |    sqrt(sum(q.qx * q.qx)) AS n2
        |  FROM e JOIN q USING (i) WHERE e.vec_id <> 0 GROUP BY e.vec_id),
        |scored AS (
        |  SELECT vec_id, round(dot / (n1 * n2), 6) AS cos,
        |    CAST(row_number() OVER (ORDER BY round(dot / (n1 * n2), 6) DESC, vec_id) AS BIGINT) AS rn
        |  FROM dots)
        |SELECT vec_id, cos, rn FROM scored WHERE rn <= 10""".stripMargin,

    "q_text_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY doc_id, w),
        |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |       FROM documents),
        |nl AS (SELECT CAST(count(*) AS BIGINT) AS nn,
        |              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ll
        |       FROM documents),
        |qt AS (SELECT doc_id AS query_id,
        |         unnest(list_distinct(string_split(text, ' ')[1:5])) AS w
        |       FROM documents WHERE doc_id % 100 = 0 AND doc_id < 5000),
        |sc AS (
        |  SELECT query_id, tf.doc_id AS doc_id,
        |    CAST(sum(((1000000 * (nn - df + 1)) // (df + 1)) * (tf * 2200)
        |      // (1000 * tf + 300 + (900 * dl * nn) // ll)) AS BIGINT) AS score_fp
        |  FROM qt JOIN tf USING (w) JOIN df USING (w)
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN nl
        |  GROUP BY query_id, tf.doc_id)
        |SELECT query_id, rn, doc_id, score_fp FROM (
        |  SELECT query_id, doc_id, score_fp,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_fp DESC, doc_id) AS BIGINT) AS rn
        |  FROM sc)
        |WHERE rn <= 10""".stripMargin,

    // Eval twin: the dfcap CTE chain (self-hits excluded before
    // ranking), ≥2-shared-trigram relevance (integer count), and the
    // SAME NdcgW/NdcgCum fixed-point literals as a VALUES relation —
    // DCG arithmetic is exact integers on both engines.
    "q_text_retrieval_eval" -> {
      val wts = NdcgW.zip(NdcgCum).zipWithIndex
        .map { case ((w, cw), i) => s"(${i + 1}, ${w}::BIGINT, ${cw}::BIGINT)" }
        .mkString(", ")
      s"""WITH g AS (
         |  SELECT doc_id,
         |    CASE WHEN len(string_split(text, ' ')) >= 3
         |      THEN [array_to_string(string_split(text, ' ')[i:i+2], ' ')
         |            FOR i IN range(1, len(string_split(text, ' ')) - 1)]
         |      ELSE [] END AS gl
         |  FROM documents),
         |toks AS (SELECT doc_id, unnest(gl) AS w FROM g),
         |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks GROUP BY doc_id, w),
         |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
         |dl AS (SELECT doc_id, CAST(len(gl) AS BIGINT) AS dl FROM g),
         |nl AS (SELECT CAST(count(*) AS BIGINT) AS nn,
         |              CAST(sum(len(gl)) AS BIGINT) AS ll FROM g),
         |qt AS (SELECT doc_id AS query_id, unnest(list_distinct(gl[1:5])) AS w
         |       FROM g WHERE doc_id % 100 = 0 AND doc_id < 5000),
         |qc AS (SELECT query_id, qt.w, df FROM qt JOIN df USING (w)
         |       WHERE df * 4 <= (SELECT nn FROM nl)),
         |sc AS (
         |  SELECT query_id, tf.doc_id AS doc_id,
         |    CAST(sum(((1000000 * (nn - qc.df + 1)) // (qc.df + 1)) * (tf * 2200)
         |      // (1000 * tf + 300 + (900 * dl * nn) // ll)) AS BIGINT) AS score_fp
         |  FROM qc JOIN tf USING (w)
         |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN nl
         |  GROUP BY query_id, tf.doc_id),
         |ranked AS (
         |  SELECT query_id, doc_id, rn FROM (
         |    SELECT query_id, doc_id,
         |      CAST(row_number() OVER (PARTITION BY query_id
         |        ORDER BY score_fp DESC, doc_id) AS BIGINT) AS rn
         |    FROM sc WHERE doc_id != query_id)
         |  WHERE rn <= 10),
         |sh AS (SELECT doc_id, $shingleSql FROM documents),
         |rel AS (
         |  SELECT query_id, doc_id FROM (
         |    SELECT q.doc_id AS query_id, s.doc_id AS doc_id,
         |      CAST(count(*) AS BIGINT) AS ni
         |    FROM sh q JOIN sh s ON q.w = s.w AND s.doc_id != q.doc_id
         |    WHERE q.doc_id % 100 = 0 AND q.doc_id < 5000
         |    GROUP BY 1, 2)
         |  WHERE ni >= 2),
         |wts AS (SELECT * FROM (VALUES $wts) v(r, w, cw)),
         |hits AS (
         |  SELECT r.query_id, min(r.rn) AS first_rank,
         |    CAST(sum(w.w) AS BIGINT) AS dcg_fp,
         |    CAST(count(*) AS BIGINT) AS n_hits
         |  FROM ranked r JOIN rel USING (query_id, doc_id)
         |  JOIN wts w ON w.r = r.rn
         |  GROUP BY 1),
         |nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
         |         FROM rel GROUP BY 1),
         |q AS (SELECT doc_id AS query_id FROM documents
         |      WHERE doc_id % 100 = 0 AND doc_id < 5000)
         |SELECT q.query_id,
         |  coalesce(n_rel, 0) AS n_rel,
         |  coalesce(n_hits, 0) AS n_hits,
         |  first_rank,
         |  CASE WHEN first_rank IS NOT NULL
         |    THEN round(1.0 / first_rank, 6) ELSE 0.0 END AS mrr,
         |  CASE WHEN coalesce(n_rel, 0) > 0 THEN
         |    round(CAST(coalesce(dcg_fp, 0) AS DOUBLE) /
         |      (SELECT cw FROM wts WHERE r = LEAST(n_rel, 10)), 6)
         |  END AS ndcg10
         |FROM q LEFT JOIN nrel USING (query_id)
         |LEFT JOIN hits USING (query_id)""".stripMargin
    },

    // Trigram-term twin: gl = the word-trigram list (empty under 3
    // tokens, matching Spark's shingles() guard), tf/df/dl/nl at trigram
    // granularity, and the df·4 ≤ N guard applied to the query-term CTE
    // exactly where the Spark plan prunes.
    "q_text_bm25_dfcap" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text, ' ')) >= 3
        |      THEN [array_to_string(string_split(text, ' ')[i:i+2], ' ')
        |            FOR i IN range(1, len(string_split(text, ' ')) - 1)]
        |      ELSE [] END AS gl
        |  FROM documents),
        |toks AS (SELECT doc_id, unnest(gl) AS w FROM g),
        |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY doc_id, w),
        |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        |dl AS (SELECT doc_id, CAST(len(gl) AS BIGINT) AS dl FROM g),
        |nl AS (SELECT CAST(count(*) AS BIGINT) AS nn,
        |              CAST(sum(len(gl)) AS BIGINT) AS ll FROM g),
        |qt AS (SELECT doc_id AS query_id, unnest(list_distinct(gl[1:5])) AS w
        |       FROM g WHERE doc_id % 100 = 0 AND doc_id < 5000),
        |qc AS (SELECT query_id, qt.w, df FROM qt JOIN df USING (w)
        |       WHERE df * 4 <= (SELECT nn FROM nl)),
        |sc AS (
        |  SELECT query_id, tf.doc_id AS doc_id,
        |    CAST(sum(((1000000 * (nn - qc.df + 1)) // (qc.df + 1)) * (tf * 2200)
        |      // (1000 * tf + 300 + (900 * dl * nn) // ll)) AS BIGINT) AS score_fp
        |  FROM qc JOIN tf USING (w)
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN nl
        |  GROUP BY query_id, tf.doc_id)
        |SELECT query_id, rn, doc_id, score_fp FROM (
        |  SELECT query_id, doc_id, score_fp,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_fp DESC, doc_id) AS BIGINT) AS rn
        |  FROM sc)
        |WHERE rn <= 10""".stripMargin,

    // Same BM25 integer scoring restricted to ids present in embeddings,
    // the multi-query form of the cosine oracle, and pure rank-arithmetic
    // fusion. Both rankers exclude self BEFORE their window, matching the
    // Spark side.
    "q_sim_hybrid_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY doc_id, w),
        |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        |dlen AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |       FROM documents),
        |nl AS (SELECT CAST(count(*) AS BIGINT) AS nn,
        |              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ll
        |       FROM documents),
        |qids AS (SELECT vec_id AS query_id FROM embeddings
        |         WHERE vec_id % 100 = 0 AND vec_id < 2000),
        |qt AS (SELECT query_id,
        |         unnest(list_distinct(string_split(text, ' ')[1:5])) AS w
        |       FROM documents JOIN qids ON doc_id = query_id),
        |sc AS (
        |  SELECT query_id, tf.doc_id AS doc_id,
        |    CAST(sum(((1000000 * (nn - df + 1)) // (df + 1)) * (tf * 2200)
        |      // (1000 * tf + 300 + (900 * dl * nn) // ll)) AS BIGINT) AS score_fp
        |  FROM qt JOIN tf USING (w) JOIN df USING (w)
        |  JOIN dlen ON tf.doc_id = dlen.doc_id CROSS JOIN nl
        |  GROUP BY query_id, tf.doc_id),
        |srank AS (SELECT query_id, doc_id, rs FROM (
        |  SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_fp DESC, doc_id) AS BIGINT) AS rs
        |  FROM sc WHERE doc_id <> query_id) WHERE rs <= 10),
        |ee AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |              CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ee GROUP BY vec_id),
        |qe AS (SELECT query_id, i, x AS qx FROM ee JOIN qids ON vec_id = query_id),
        |dots AS (SELECT qe.query_id, ee.vec_id AS doc_id, sum(ee.x * qe.qx) AS dot
        |         FROM ee JOIN qe USING (i) WHERE ee.vec_id <> qe.query_id
        |         GROUP BY qe.query_id, ee.vec_id),
        |dcos AS (SELECT query_id, doc_id,
        |           round(dot / (n1.nrm * n2.nrm), 6) AS cos
        |         FROM dots JOIN nrm n1 ON doc_id = n1.vec_id
        |         JOIN nrm n2 ON query_id = n2.vec_id),
        |drank AS (SELECT query_id, doc_id, rd FROM (
        |  SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, doc_id) AS BIGINT) AS rd
        |  FROM dcos) WHERE rd <= 10),
        |fuse AS (
        |  SELECT coalesce(s.query_id, d.query_id) AS query_id,
        |         coalesce(s.doc_id, d.doc_id) AS doc_id,
        |         CAST(coalesce(1000000 // (60 + s.rs), 0)
        |            + coalesce(1000000 // (60 + d.rd), 0) AS BIGINT) AS rrf_fp
        |  FROM srank s FULL OUTER JOIN drank d
        |    ON s.query_id = d.query_id AND s.doc_id = d.doc_id)
        |SELECT query_id, rn, doc_id, rrf_fp FROM (
        |  SELECT query_id, doc_id, rrf_fp,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_fp DESC, doc_id) AS BIGINT) AS rn
        |  FROM fuse)
        |WHERE rn <= 10""".stripMargin,

    "q_text_passage_retrieval" ->
      """WITH p AS (
        |  SELECT doc_id, k AS chunk_id,
        |    substr(text, CAST(k * 192 + 1 AS INT), 256) AS ptext
        |  FROM (SELECT doc_id, text, n_chars,
        |          unnest(generate_series(0, (n_chars + 191) // 192 - 1)) AS k
        |        FROM documents WHERE n_chars > 0)),
        |tf AS (
        |  SELECT doc_id, chunk_id, w, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, chunk_id,
        |          unnest(string_split(ptext, ' ')) AS w FROM p)
        |  GROUP BY doc_id, chunk_id, w),
        |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        |dl AS (SELECT doc_id, chunk_id,
        |         CAST(len(string_split(ptext, ' ')) AS BIGINT) AS dl FROM p),
        |nl AS (SELECT CAST(count(*) AS BIGINT) AS nn,
        |         CAST(sum(len(string_split(ptext, ' '))) AS BIGINT) AS ll
        |       FROM p),
        |qt AS (SELECT doc_id AS query_id,
        |         unnest(list_distinct(string_split(text, ' ')[1:5])) AS w
        |       FROM documents WHERE doc_id % 100 = 0 AND doc_id < 5000),
        |sc AS (
        |  SELECT query_id, tf.doc_id AS doc_id, tf.chunk_id AS chunk_id,
        |    CAST(sum(((1000000 * (nn - df + 1)) // (df + 1)) * (tf * 2200)
        |      // (1000 * tf + 300 + (900 * dl * nn) // ll)) AS BIGINT) AS score_fp
        |  FROM qt JOIN tf USING (w) JOIN df USING (w)
        |  JOIN dl ON tf.doc_id = dl.doc_id AND tf.chunk_id = dl.chunk_id
        |  CROSS JOIN nl
        |  GROUP BY query_id, tf.doc_id, tf.chunk_id),
        |best AS (
        |  SELECT query_id, doc_id, chunk_id, score_fp FROM (
        |    SELECT query_id, doc_id, chunk_id, score_fp,
        |      row_number() OVER (PARTITION BY query_id, doc_id
        |        ORDER BY score_fp DESC, chunk_id) AS rd
        |    FROM sc) WHERE rd = 1)
        |SELECT query_id, rn, doc_id, chunk_id, score_fp FROM (
        |  SELECT query_id, doc_id, chunk_id, score_fp,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_fp DESC, doc_id) AS BIGINT) AS rn
        |  FROM best) WHERE rn <= 3""".stripMargin,

    // Passage-granularity trigram twin: same chunk CTE, trigram lists per
    // passage (empty under 3 tokens), df·4 ≤ N_passages guard on the
    // query-term CTE.
    "q_text_passage_dfcap" ->
      """WITH p AS (
        |  SELECT doc_id, k AS chunk_id,
        |    substr(text, CAST(k * 192 + 1 AS INT), 256) AS ptext
        |  FROM (SELECT doc_id, text, n_chars,
        |          unnest(generate_series(0, (n_chars + 191) // 192 - 1)) AS k
        |        FROM documents WHERE n_chars > 0)),
        |pg AS (
        |  SELECT doc_id, chunk_id,
        |    CASE WHEN len(string_split(ptext, ' ')) >= 3
        |      THEN [array_to_string(string_split(ptext, ' ')[i:i+2], ' ')
        |            FOR i IN range(1, len(string_split(ptext, ' ')) - 1)]
        |      ELSE [] END AS gl
        |  FROM p),
        |tf AS (
        |  SELECT doc_id, chunk_id, w, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, chunk_id, unnest(gl) AS w FROM pg)
        |  GROUP BY doc_id, chunk_id, w),
        |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        |dl AS (SELECT doc_id, chunk_id, CAST(len(gl) AS BIGINT) AS dl FROM pg),
        |nl AS (SELECT CAST(count(*) AS BIGINT) AS nn,
        |         CAST(sum(len(gl)) AS BIGINT) AS ll FROM pg),
        |qg AS (
        |  SELECT doc_id AS query_id,
        |    CASE WHEN len(string_split(text, ' ')) >= 3
        |      THEN [array_to_string(string_split(text, ' ')[i:i+2], ' ')
        |            FOR i IN range(1, len(string_split(text, ' ')) - 1)]
        |      ELSE [] END AS gl
        |  FROM documents WHERE doc_id % 100 = 0 AND doc_id < 5000),
        |qt AS (SELECT query_id, unnest(list_distinct(gl[1:5])) AS w FROM qg),
        |qc AS (SELECT query_id, qt.w, df FROM qt JOIN df USING (w)
        |       WHERE df * 4 <= (SELECT nn FROM nl)),
        |sc AS (
        |  SELECT query_id, tf.doc_id AS doc_id, tf.chunk_id AS chunk_id,
        |    CAST(sum(((1000000 * (nn - qc.df + 1)) // (qc.df + 1)) * (tf * 2200)
        |      // (1000 * tf + 300 + (900 * dl * nn) // ll)) AS BIGINT) AS score_fp
        |  FROM qc JOIN tf USING (w)
        |  JOIN dl ON tf.doc_id = dl.doc_id AND tf.chunk_id = dl.chunk_id
        |  CROSS JOIN nl
        |  GROUP BY query_id, tf.doc_id, tf.chunk_id),
        |best AS (
        |  SELECT query_id, doc_id, chunk_id, score_fp FROM (
        |    SELECT query_id, doc_id, chunk_id, score_fp,
        |      row_number() OVER (PARTITION BY query_id, doc_id
        |        ORDER BY score_fp DESC, chunk_id) AS rd
        |    FROM sc) WHERE rd = 1)
        |SELECT query_id, rn, doc_id, chunk_id, score_fp FROM (
        |  SELECT query_id, doc_id, chunk_id, score_fp,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_fp DESC, doc_id) AS BIGINT) AS rn
        |  FROM best) WHERE rn <= 3""".stripMargin,

    "q_text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
        |df AS (SELECT w, count(*) AS df
        |  FROM (SELECT DISTINCT doc_id, w FROM toks) GROUP BY w),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
        |SELECT doc_id, w AS term, tfidf, rn FROM (
        |  SELECT doc_id, w,
        |    round(tf * log10((n_docs + 1.0) / (df + 1.0)), 4) AS tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY round(tf * log10((n_docs + 1.0) / (df + 1.0))
        |        , 4) DESC, w) AS BIGINT) AS rn
        |  FROM tf JOIN df USING (w) CROSS JOIN n)
        |WHERE rn <= 3""".stripMargin,

    "q_dedup_substring" -> {
      import org.apache.spark.sql.graft.RollingHash.{B, P}
      val k = 8
      // direct polynomial formula — identical residues to the rolling form
      val coefs = (0 until k).map { j =>
        var c = 1L; for (_ <- 1 until k - j) c = c * B % P; c
      }
      def terms(th: String) = (0 until k)
        .map(j => s"($th[i + $j] * ${coefs(j)} % $P)").mkString(" + ")
      s"""WITH th AS (
         |  SELECT doc_id,
         |    list_transform(string_split(text, ' '),
         |      t -> ${sqlHash64("t")} % $P) AS th1,
         |    list_transform(string_split(text, ' '),
         |      t -> ${sqlHash64("'sp2|' || t")} % $P) AS th2
         |  FROM documents),
         |spans AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(generate_series(1, greatest(len(th1) - ${k - 1}, 0)),
         |      i -> ((${terms("th1")}) % $P) * $P + ((${terms("th2")}) % $P))))
         |    AS span_hash
         |  FROM th)
         |SELECT span_hash, count(DISTINCT doc_id) AS n_docs,
         |  min(doc_id) AS first_doc
         |FROM spans GROUP BY span_hash
         |HAVING count(DISTINCT doc_id) >= 2""".stripMargin
    },

    "q_etl_shard_manifest" -> {
      val h = sqlHash64("'shard|' || CAST(doc_id AS VARCHAR)")
      s"""SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         |  md5(string_agg(md5(text), '' ORDER BY doc_id)) AS content_digest
         |FROM (SELECT doc_id, text, $h % 32 AS shard FROM documents)
         |GROUP BY shard""".stripMargin
    },

    // Span-dedup twin: positional 8-token shingles hashed with the shared
    // md5-prefix hash, min≠max cross-doc test, identical gaps-and-islands
    // window arithmetic.
    "q_dedup_span_dupes" -> {
      val h = sqlHash64("array_to_string(tk[pos:pos+7], ' ')")
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
         |  WHERE len(string_split(text, ' ')) >= 8),
         |shp AS (
         |  SELECT doc_id, tk,
         |    unnest(generate_series(1, len(tk) - 7)) AS pos
         |  FROM t),
         |sh AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, $h AS hh FROM shp),
         |dup AS (
         |  SELECT hh FROM sh GROUP BY hh
         |  HAVING min(doc_id) != max(doc_id)),
         |mk AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup USING (hh)),
         |brk AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN lag(pos) OVER w IS NULL THEN 0
         |         WHEN pos > lag(pos) OVER w + 8 THEN 1 ELSE 0 END AS brk
         |  FROM mk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |isl AS (
         |  SELECT doc_id, pos,
         |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS UNBOUNDED PRECEDING) AS island
         |  FROM brk)
         |SELECT doc_id, CAST(island + 1 AS BIGINT) AS span_id,
         |  CAST(min(pos) AS BIGINT) AS start_tok,
         |  CAST(max(pos) + 7 AS BIGINT) AS end_tok,
         |  CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_toks
         |FROM isl GROUP BY doc_id, island""".stripMargin
    },

    // Scrub twin: same shingle/dup CTEs plus the keeper pick
    // (min (doc,pos) per hash), k-wide coverage via generate_series, and
    // the ordered string_agg rebuild.
    "q_dedup_span_scrub" -> {
      val h = sqlHash64("array_to_string(tk[pos:pos+7], ' ')")
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
         |  WHERE len(string_split(text, ' ')) >= 8),
         |shp AS (
         |  SELECT doc_id, tk,
         |    unnest(generate_series(1, len(tk) - 7)) AS pos
         |  FROM t),
         |sh AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, $h AS hh FROM shp),
         |dup AS (
         |  SELECT hh, min({'d': doc_id, 'p': pos}) AS keep
         |  FROM sh GROUP BY hh
         |  HAVING min(doc_id) != max(doc_id)),
         |occ AS (
         |  SELECT s.doc_id, s.pos,
         |    CASE WHEN s.doc_id = keep.d AND s.pos = keep.p
         |      THEN 1 ELSE 0 END AS kept
         |  FROM sh s JOIN dup USING (hh)),
         |cover AS (
         |  SELECT doc_id, t AS cut_t FROM (
         |    SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS t, kept
         |    FROM occ)
         |  GROUP BY doc_id, t HAVING max(kept) = 0),
         |toks AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS i, tok
         |  FROM (SELECT doc_id,
         |          unnest(string_split(text, ' ')) AS tok,
         |          generate_subscripts(string_split(text, ' '), 1) AS i
         |        FROM documents))
         |SELECT toks.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_toks_kept,
         |  md5(string_agg(tok, ' ' ORDER BY i)) AS scrubbed_md5
         |FROM toks
         |LEFT JOIN cover ON cover.doc_id = toks.doc_id AND cover.cut_t = toks.i
         |WHERE cover.doc_id IS NULL
         |GROUP BY toks.doc_id""".stripMargin
    },

    // Merkle twin: identical shard hash, per-shard positional 64-doc
    // blocks, leaf digests ordered by doc_id, root over leaves in block
    // order.
    "q_etl_shard_merkle" -> {
      val h = sqlHash64("'shard|' || CAST(doc_id AS VARCHAR)")
      s"""WITH d AS (
         |  SELECT doc_id, text, $h % 32 AS shard FROM documents),
         |p AS (
         |  SELECT shard, doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         |    md5(text) AS dmd5,
         |    (row_number() OVER (PARTITION BY shard ORDER BY doc_id) - 1) // 64
         |      AS blk
         |  FROM d),
         |leaf AS (
         |  SELECT shard, blk, count(*) AS nd, sum(n_toks) AS nt,
         |    md5(string_agg(dmd5, '' ORDER BY doc_id)) AS leaf
         |  FROM p GROUP BY shard, blk)
         |SELECT shard, CAST(sum(nd) AS BIGINT) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_blocks,
         |  md5(string_agg(leaf, '' ORDER BY blk)) AS merkle_root
         |FROM leaf GROUP BY shard""".stripMargin
    },

    "q_shuffle_shards" -> {
      val h = sqlHash64("'shuf|' || CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, shard, pos FROM (
         |  SELECT doc_id, h % 8 AS shard,
         |    CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
         |      AS BIGINT) AS pos
         |  FROM (SELECT doc_id, $h AS h FROM documents))""".stripMargin
    },

    "q_text_inverted_index" ->
      s"""WITH terms AS (
        |  SELECT doc_id, ${shingleSqlN(2, distinct = true).replace(" AS w", " AS term")}
        |  FROM documents),
        |df AS (SELECT term, count(*) AS df FROM terms
        |  GROUP BY term HAVING count(*) BETWEEN 2 AND 20)
        |SELECT term, df,
        |  array_to_string(list_sort(list(doc_id)), ',') AS postings
        |FROM terms JOIN df USING (term)
        |GROUP BY term, df""".stripMargin,

    "q_text_bigram_lm" ->
      s"""WITH bi AS (
         |  SELECT doc_id, w AS g, string_split(w, ' ')[1] AS w1
         |  FROM (SELECT doc_id, ${shingleSqlN(2, distinct = false)}
         |        FROM documents)),
         |big AS (SELECT g, count(*) AS c2 FROM bi GROUP BY g),
         |head AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY w1)
         |SELECT doc_id,
         |  round(avg(log10(CAST(c2 AS DOUBLE) / c1)), 4) AS avg_logprob,
         |  count(*) AS n_bigrams
         |FROM bi JOIN big USING (g) JOIN head USING (w1)
         |GROUP BY doc_id""".stripMargin,

    "q_corpus_prepare" -> {
      val h = s"${sqlHash64("'split|' || CAST(doc_id AS VARCHAR)")} % 100"
      val prefix =
        """q0 AS (
          |  SELECT doc_id, lang, n_chars, text,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          |    round(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
          |      / len(string_split(text, ' ')), 4) AS avg_token_len,
          |    round(CAST(len(list_filter(string_split(text, ' '),
          |        w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
          |      / len(string_split(text, ' ')), 6) AS stopword_ratio
          |  FROM documents),
          |qf AS (SELECT doc_id, lang, n_chars, text FROM q0
          |  WHERE n_tokens BETWEEN 10 AND 1000
          |    AND avg_token_len BETWEEN 2.0 AND 12.0
          |    AND stopword_ratio > 0.0),
          |ex AS (SELECT min(doc_id) AS doc_id FROM qf GROUP BY md5(text)),
          |base AS (SELECT qf.* FROM qf JOIN ex USING (doc_id))""".stripMargin
      s"""${componentsCtesFrom("base", prefix)},
         |comp AS (SELECT doc_id, label AS cluster FROM l4),
         |cl AS (SELECT b.doc_id, b.lang, b.n_chars,
         |    coalesce(c.cluster, b.doc_id) AS cluster
         |  FROM base b LEFT JOIN comp c USING (doc_id)),
         |keep AS (SELECT first(doc_id ORDER BY n_chars DESC, doc_id ASC)
         |    AS doc_id
         |  FROM cl GROUP BY cluster)
         |SELECT CASE WHEN $h < 80 THEN 'train'
         |    WHEN $h < 90 THEN 'val' ELSE 'test' END AS split,
         |  lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM cl JOIN keep USING (doc_id)
         |GROUP BY 1, 2""".stripMargin
    }
  )
}
