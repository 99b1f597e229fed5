package graft.ops

import graft.{SparkSpec, SparkEntry}

/** Physical-plan regression guards: each operator whose whole point is
  * avoiding a pathological plan shape must keep avoiding it. A silent
  * regression to a nested-loop join would stay correctness-green while
  * destroying the scale story — these specs pin the plan, not the rows.
  */
class PlanShapeSpec extends SparkSpec {

  // Plan-shape assertions need the real parquet fixtures (stats drive join
  // strategy selection); on a checkout without them the suite cancels
  // rather than failing the whole build.
  private val sfDir =
    sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")

  private def executedPlan(q: String): String = {
    assume(new java.io.File(sfDir).isDirectory,
      s"fixture dir $sfDir absent — set SPARK_GRAFT_FIXTURE_DIR")
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString
  }

  test("bucketed range join plans as an equi-join, never a nested loop") {
    val plan = executedPlan("q_range_join_bands")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("triangle counting's wedge joins are equi-joins, never nested loops") {
    val plan = executedPlan("q_graph_triangles")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("interval-overlap join plans as an equi-join, never a nested loop") {
    val plan = executedPlan("q_range_overlap_bands")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("fuzzy join's screens are equi-joins, never nested loops — and both " +
    "branches survive to the union") {
    val plan = executedPlan("q_join_fuzzy_names")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // substitution branch (dels × dels) + insert/delete branch (dels ×
    // self-hashes): losing one to optimization would silently drop an
    // edit kind while staying correctness-green on same-length fixtures
    assert("Join".r.findAllIn(plan).length >= 2, plan)
  }

  test("simhash Hamming pairs: the block-bucket self-join is an equi-join") {
    val plan = executedPlan("q_dedup_simhash_hamming")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("salted join stays an equi-join on (key, salt)") {
    val plan = executedPlan("q_join_salted")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bucketed join needs no join-side exchange OR sort — only the " +
    "final agg's exchange") {
    // both sides are bucketed AND sorted on the join key with one file per
    // bucket (the pre-write repartition guarantees it), so the sort-merge
    // join's distribution requirement comes from the bucket layout and its
    // ordering requirement from the sortBy metadata (session conf
    // bucketedTableScan.outputOrdering) — a Sort or second Exchange
    // appearing here means the pre-organized layout stopped being used
    val plan = executedPlan("q_source_bucketed_join")
    assert(plan.contains("SortMergeJoin"), plan)
    val exchanges = plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    // a SortExec prints as "Sort [ordering...]"; SortMergeJoin doesn't match
    assert(!plan.contains("Sort ["), s"expected no Sort nodes:\n$plan")
  }

  test("bloom decontamination: corpus meets ONLY broadcasts (bitset + " +
    "reference grams) — no sort-merge join anywhere") {
    // the whole design: bitset rides a 1-row broadcast nested-loop join,
    // the exact verify rides a broadcast hash join; a SortMergeJoin here
    // means the corpus gram table started shuffling for a join
    val plan = executedPlan("q_dedup_decon_bloom")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"corpus grams shuffled into a sort-merge join:\n$plan")
  }

  test("pagerank: per-iteration joins read the cached edge/degree frames " +
    "(InMemoryTableScan), not the parquet scan again") {
    // (join STRATEGY is left to AQE — score⋈edges legitimately becomes a
    // shuffle join once edges outgrow broadcast; the pin is cache reuse)
    val plan = executedPlan("q_graph_pagerank")
    assert(plan.contains("InMemoryTableScan"), plan)
  }

  test("decontamination broadcasts the reference bands — corpus side never " +
    "sort-merge-joins") {
    // the bipartite LSH screen's whole scale story is that the 100 TB
    // corpus band table never shuffles: the reference side is broadcast by
    // contract. A SortMergeJoin appearing here means the pin was lost and
    // the corpus would shuffle at every screen.
    val plan = executedPlan("q_dedup_decontaminate")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("corpus_prepare: cluster resolution rides broadcast joins — no " +
    "corpus-wide sort-merge join after the exact-dedup groupBy") {
    // The flagship pipeline's scale contract (LlmOps.scala corpus_prepare):
    // cluster labels cover only the near-dup slice, so keeper resolution
    // and the singleton pass-through are BROADCAST joins (hinted) — a
    // SortMergeJoin appearing here means the corpus would pay two full
    // shuffles at every run. The anti-join for singletons must be the
    // broadcast one.
    assume(new java.io.File(sfDir).isDirectory)
    val df = SparkEntry.queries("q_corpus_prepare")(spark, sfDir)
    df.collect() // finalize AQE so the pin reads the executed strategy
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"singleton pass-through lost its broadcast anti-join:\n$plan")
  }

  test("bigram_lm: count-table joins stay equi-joins and AQE localizes " +
    "them to broadcast at fixture scale") {
    // The two vocabulary-count tables join back to the exploded bigram
    // table with NO broadcast hint on purpose: at 100 TB they are not
    // broadcast-small and must be allowed to sort-merge. The pin is (a)
    // never a nested loop, and (b) at this fixture scale AQE's runtime
    // stats DO convert both joins to broadcast — if that stops happening
    // the stats/strategy path drifted.
    assume(new java.io.File(sfDir).isDirectory)
    val df = SparkEntry.queries("q_text_bigram_lm")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"),
      s"AQE no longer broadcasts the count tables at fixture scale:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"count-table join fell back to sort-merge at fixture scale:\n$plan")
  }

  test("unpivot plans as a single-scan Expand, one exchange (the agg's)") {
    // the melt must stay one pass over the fact table — three UNION'd
    // scans (the oracle's spelling) would read it three times
    val plan = executedPlan("q_etl_unpivot")
    assert(plan.contains("Expand"), plan)
    val exchanges = plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("range-frame window shuffles once on its partition keys") {
    val plan = executedPlan("q_window_range")
    assert(plan.contains("Window"), plan)
    val exchanges = plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("posexplode query is shuffle-free — generator + filter only") {
    val plan = executedPlan("q_scalar_posexplode")
    assert(plan.contains("Generate"), plan)
    assert(!plan.contains("Exchange"), s"narrow per-row op shuffled:\n$plan")
  }

  test("ccnet bucketing: per-lang thresholds ride a broadcast join — the " +
    "corpus apply side never sort-merge-joins") {
    // same contract as temperature sampling: a SortMergeJoin here means
    // the corpus shuffles on lang (a handful of giant skewed partitions)
    // to apply a lang-cardinality lookup
    val plan = executedPlan("q_text_ccnet_buckets")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("temperature sampling: rates ride a broadcast join — the corpus " +
    "apply side never sort-merge-joins") {
    // q_sample_temperature's scale contract: the per-language rates frame
    // (lang-cardinality rows) joins back to the corpus as a BROADCAST; a
    // SortMergeJoin here means the 100 TB corpus would shuffle on lang —
    // a handful of giant skewed partitions — to apply a 5-row lookup.
    val plan = executedPlan("q_sample_temperature")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("semdedup: pair work is the in-bucket equi-join, never a cartesian " +
    "product") {
    // SemDeDup's tractability rests on the self-join keying on bucket:
    // a CartesianProduct here is the O(n²) plan the clustering exists to
    // avoid. (The centroid-assignment crossJoin against the 1-row
    // collected centroid frame is a broadcast by construction and is not
    // what this pin is about.)
    val plan = executedPlan("q_dedup_semdedup")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
      s"in-bucket self-join lost its equi-key:\n$plan")
  }

  test("knn graph: neighbour candidates come from the bucket equi-join, " +
    "never a cartesian product") {
    // The n²/C candidate bound rests on the self-join keying on bucket; a
    // CartesianProduct is the all-pairs plan IVF bucketing exists to avoid.
    // (The 1-row collected-centroid crossJoin inside bucketAssign is a
    // broadcast by construction and is not what this pin is about, so no
    // BroadcastNestedLoopJoin assertion here.)
    val plan = executedPlan("q_sim_knn_graph")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
      s"bucket self-join lost its equi-key:\n$plan")
  }

  test("tfidf-cosine: every join is an equi-join — pair work stays " +
    "LSH-candidate-bounded") {
    // The sparse-cosine verify joins weight/norm tables back to the LSH
    // candidate pairs on doc ids; any nested-loop or cartesian here means
    // a join key was lost and the verify went corpus×corpus.
    val plan = executedPlan("q_text_tfidf_cosine")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("domain cap runs as a bounded aggregate — no per-domain window sort") {
    // q_sample_domain_cap's oracle IS the row_number window; the plan's
    // contract is that Spark-side it stays BottomKAgg (k-pair bounded
    // buffer, map-side partial). A Window operator appearing here means
    // someone replaced it with the oracle's shape — a full sort of every
    // domain, the hot-domain straggler at corpus scale.
    val plan = executedPlan("q_sample_domain_cap")
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Sort "), plan)
  }

  test("sessionization reuses one user_id exchange for windows and rollup") {
    // both window functions and the final groupBy cluster on user_id —
    // HashPartitioning(user_id) satisfies the (user_id, session_no) group,
    // so the whole query needs exactly ONE exchange
    val plan = executedPlan("q_window_sessionize")
    val exchanges = plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("star q5: date slice pushes into the orders scan and the fact " +
    "side never nested-loop-joins") {
    // the 6-table star must stay all-equi-join (broadcast or shuffled is
    // AQE's call per side — both are fine; a nested loop is not), and the
    // 2-year o_orderdate slice must reach the parquet scan as a pushed
    // filter instead of surviving as a post-scan Filter over full IO
    val plan = executedPlan("q_join_star_q5")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"), plan)
  }

  test("native session window: one user_id exchange feeds the session " +
    "merge — no second shuffle for the agg") {
    val plan = executedPlan("q_window_session_native")
    val exchanges = plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("prefix-filter join: every stage is keyed — no single-partition " +
    "pass, no nested loop") {
    // r8 rework: the rare-first order is the (df, w) tuple from a keyed
    // window, NOT a globally materialized rank — 3-shingle vocab is
    // corpus-sized (no Heaps saturation), so the old single-partition
    // row_number + vocab-wide broadcast measured 141 s at the 100× smoke.
    // A SinglePartition exchange reappearing means someone reintroduced a
    // global pass; the candidate self-join and verify joins must stay
    // equi-joins.
    assume(new java.io.File(sfDir).isDirectory)
    val df = SparkEntry.queries("q_dedup_prefix_filter")(spark, sfDir)
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SinglePartition"),
      s"a global single-partition pass reappeared:\n$plan")
  }

  test("stats profile is ONE scan: the five exact NDVs share an Expand") {
    // multiple count(distinct) columns must compile to a single Expand
    // over one parquet scan — a UNION-per-column spelling (the oracle's)
    // would read the table five times
    val plan = executedPlan("q_stats_profile")
    val scans = plan.sliding("Scan parquet".length).count(_ == "Scan parquet")
    assert(scans == 1, s"expected 1 parquet scan, got $scans:\n$plan")
    assert(plan.contains("Expand"), plan)
  }

  test("sorted-neighborhood: keyed windows only — no single-partition " +
    "global sort window") {
    // the SNM order is per (lang, blk) block; a partition-less Window
    // (global row_number) would serialize the corpus through one task
    val plan = executedPlan("q_dedup_sorted_neighborhood")
    assert(!plan.contains("SinglePartition"),
      s"global (single-partition) exchange appeared in SNM plan:\n$plan")
  }

  test("attribution runs through the custom AsOfJoin exec — no window " +
    "re-scan, no nested loop") {
    val plan = executedPlan("q_events_attribution")
    assert(plan.contains("AsOfJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("basket pairs: the frequent-item gate is a broadcast join and the " +
    "pair step an equi-join") {
    // the a-priori prune must ride a broadcast (the frequent set is
    // key-sized); the per-order pairing must stay an equi-join on o —
    // a cartesian here is the quadratic blowup the gate exists to avoid
    val plan = executedPlan("q_basket_pairs")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("k-core peel round: alive-set filters are broadcast semi-joins — the " +
    "edge frame never re-sorts through a shuffle join") {
    // each peel round meets the shrinking alive set as BroadcastHashJoin
    // LeftSemi on the edges' existing layout; a SortMergeJoin appearing
    // means a round started re-shuffling the big side. Pinned on the
    // exposed single round: kcoreRounds itself is now eager with
    // per-round checkpoints, so the plan of its RESULT is checkpoint
    // scans (RunMetricsSpec pins the runtime shuffle volume instead).
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val edges = Graph.undirect(
      (1L to 200L).map(l => (0L, l)).toDF("src", "dst"))
      .repartition(col("src"))
    val (_, next) = Graph.kcorePeel(edges, 2L)
    val plan = next.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("star Q5 at fixture scale: every dimension joins as a broadcast") {
    val plan = executedPlan("q_join_star_q5")
    val joinLines = plan.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.count(_.contains("BroadcastHashJoin")) >= 4,
      s"expected all four dims broadcast at sf0.001:\n${joinLines.mkString("\n")}")
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  // The 100× claim — customer/supplier leaving broadcast while
  // nation/region stay hinted — is a RUNTIME decision (AQE re-plans from
  // materialized stats; the initial plan still broadcasts the pruned
  // customer scan), so it is pinned as a recorded final-plan artifact in
  // SCALE.md ("star Q5 at 100×"), not as a per-build execution here.

  test("skew profiler: everything after the per-key count is broadcast — " +
    "no shuffle join over the key table") {
    val plan = executedPlan("q_stats_skew")
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("merkle shard digest: ONE exchange — the window's hash(shard) " +
    "partitioning satisfies both downstream groupBys") {
    // the distribution-subset law (hash(shard) ⊆ clustering(shard, blk)):
    // a regression inserting a second exchange would silently double the
    // shuffle volume of every release-manifest build
    val plan = executedPlan("q_etl_shard_merkle")
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
  }

  test("span dedup: shingle joins stay equi-joins; windows are doc-keyed") {
    val plan = executedPlan("q_dedup_span_dupes")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("trained knn tail: scored pairs flow from the bucket self-join " +
    "straight into the TopKPair partial aggregate — no pair-sized sort or " +
    "exchange between them") {
    // The r10 lesson as a regression guard: the ONLY pair-sized frame in
    // the query (the bucket self-join's output, occupancy·n rows) must be
    // consumed by TopKPairAgg's map-side combine in the same stage. A Sort
    // or Exchange between the partial aggregate and the join means either
    // the id-re-fetch shape came back (pair-sized SMJ sorts — disk-killed
    // at 2M vectors) or the ObjectHashAggregate sort-fallback re-engaged.
    val plan = executedPlan("q_sim_knn_graph_trained")
    val lines = plan.linesIterator.toVector
    // the partial TopKPair agg is the LAST agg line naming the udaf (tree
    // prints final agg first, partial below it, join below that)
    val pa = lines.lastIndexWhere(l =>
      l.contains("ObjectHashAggregate") && l.toLowerCase.contains("topkpair"))
    assert(pa >= 0, s"TopKPair ObjectHashAggregate not found:\n$plan")
    val join = lines.indexWhere(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"), pa + 1)
    assert(join > pa, s"no join below the partial TopKPair agg:\n$plan")
    val between = lines.slice(pa + 1, join)
    assert(!between.exists(_.contains("Sort ")),
      s"pair-sized Sort between bucket join and TopKPair agg:\n$plan")
    assert(!between.exists(_.contains("Exchange")),
      s"pair-sized Exchange between bucket join and TopKPair agg:\n$plan")
  }

  test("beam recall gate: the exact-truth top-10 is a TakeOrderedAndProject" +
    " — never a partition-less window sorting the scored corpus") {
    // the r13 weak: row_number().over(Window.orderBy(...)) on the
    // corpus-sized scored frame runs as a SINGLE-task sort at scale;
    // orderBy+limit plans per-partition bounded heaps + a 10-row merge.
    // The beam walk's own windows are fine (beam-sized frames only), so
    // the pin is: a TakeOrderedAndProject exists, and every Window in
    // the plan sits above a beam-bounded frame — equivalently, no
    // Window node reads the embeddings scan directly (the walk's windows
    // all sit above checkpointed B-row frontiers, which plan as scans of
    // ExistingRDD, not parquet).
    val plan = executedPlan("q_sim_graph_beam_recall")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    val windowChunks = plan.split("\n").sliding(6).filter(
      _.head.contains("Window "))
    windowChunks.foreach { w =>
      assert(!w.exists(_.contains("FileScan parquet")),
        s"Window directly over a parquet scan:\n${w.mkString("\n")}")
    }
  }

  test("fuzzy join: variant self-joins are sort-merge, never a broadcast " +
    "build of the domain-sized variant table") {
    // Catalyst's static estimate under distinct+posexplode reads the
    // variant table as broadcast-able at ANY scale; the planner's
    // broadcast build OOM'd the driver at a 100× key domain (SCALE.md
    // r9) — the merge hints must hold
    val plan = executedPlan("q_join_fuzzy_names")
    assert(!plan.contains("BroadcastHashJoin"), plan)
    assert("SortMergeJoin".r.findAllIn(plan).length >= 2, plan)
  }

  // --- suite-wide partition-less-window sweep (r14 verdict task 1) ------
  //
  // The outlawed shape: a Window with an EMPTY partition spec whose input
  // can be an unbounded fraction of a table — it plans an
  // Exchange SinglePartition + one-task sort of everything beneath it.
  // The r13/r14 rounds each found one instance (beam_recall, then the
  // ivf re-ranks + cosine_topk) with a per-query textual pin; this sweep
  // walks the PLAN TREE of every registered query so the class cannot
  // recur anywhere. A global window is fine only when its input is
  // provably bounded before the window: a grouping aggregate (group-count
  // rows: vocab/shard/bucket-cardinality frames), a limit
  // (TakeOrderedAndProject / GlobalLimit — the rank-minting window over
  // an already-limited top-10), or a driver-bounded leaf (checkpointed
  // beam frontiers plan as RDD scans, not file scans). WindowGroupLimit
  // is deliberately NOT treated as bounding: it is planner sugar the
  // rn<=k filter itself induces, i.e. exactly the shape under review.

  private def planChildren(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p match {
      case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
      case q: QueryStageExec => Seq(q.plan)
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case r: ReusedExchangeExec => Seq(r.child)
      case o => o.children
    }
  }

  /** Can a file scan feed this subtree without passing a
    * cardinality-bounding operator (grouping aggregate or limit)?
    */
  private def unboundedFileScanBelow(
      p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.{FileSourceScanExec,
      GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec,
      CollectLimitExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    p match {
      case a: BaseAggregateExec if a.groupingExpressions.nonEmpty => false
      case _: GlobalLimitExec | _: LocalLimitExec |
           _: TakeOrderedAndProjectExec | _: CollectLimitExec => false
      case _: FileSourceScanExec => true
      case o => planChildren(o).exists(unboundedFileScanBelow)
    }
  }

  private def globalWindowViolations(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.window.WindowExec
    val self = p match {
      case w: WindowExec if w.partitionSpec.isEmpty &&
          unboundedFileScanBelow(w.child) =>
        Seq(w.simpleStringWithNodeId())
      case _ => Seq.empty
    }
    self ++ planChildren(p).flatMap(globalWindowViolations)
  }

  test("sweep positive control: the outlawed global-window-over-scan " +
    "shape is detected, and the bounded forms are not") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val w = Window.orderBy(col("doc_id"))
    // NOTE (measured here, r15): Spark 4.1's InferWindowGroupLimit +
    // limit pushdown RESCUE the row_number + rn<=k filter form — even
    // with a cast on the rank, the executed plan is already
    // TakeOrderedAndProject below a 10-row window, so the four
    // r14-flagged queries never actually executed a single-task corpus
    // sort on this Spark. The source rewrite to orderBy+limit makes the
    // intent explicit instead of leaning on optimizer rescue. The shape
    // Catalyst CANNOT rescue — and the one this sweep really guards —
    // is a global window with no rank-limit filter (a running total /
    // unfiltered rank over the corpus): a genuine
    // Exchange SinglePartition + one-task sort of the whole scan.
    val bad = docs.withColumn("rn", row_number().over(w))
    assert(globalWindowViolations(bad.queryExecution.executedPlan).nonEmpty,
      bad.queryExecution.executedPlan.toString)
    val badSum = docs.withColumn("run", sum(col("n_chars")).over(w))
    assert(globalWindowViolations(badSum.queryExecution.executedPlan).nonEmpty,
      badSum.queryExecution.executedPlan.toString)
    // bounded-by-limit and bounded-by-aggregate forms both pass
    val limited = docs.orderBy(col("doc_id")).limit(10)
      .withColumn("rn", row_number().over(w))
    assert(globalWindowViolations(limited.queryExecution.executedPlan).isEmpty)
    val agged = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(Window.orderBy(col("c"), col("lang"))))
    assert(globalWindowViolations(agged.queryExecution.executedPlan).isEmpty)
    val partitioned = docs.withColumn("rn",
      row_number().over(Window.partitionBy(col("lang")).orderBy(col("doc_id"))))
    assert(globalWindowViolations(partitioned.queryExecution.executedPlan).isEmpty)
  }

  test("suite-wide sweep: no registered query plans a partition-less " +
    "Window over an unbounded file-scan frame") {
    assume(new java.io.File(sfDir).isDirectory,
      s"fixture dir $sfDir absent — set SPARK_GRAFT_FIXTURE_DIR")
    // no allowlist: per the r14 verdict no query legitimately needs one —
    // additions must come with a documented cardinality argument here
    val allow = Set.empty[String]
    val bad = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(allow)
      .flatMap { q =>
        val viols = globalWindowViolations(
          SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan)
        if (viols.isEmpty) Nil else Seq(s"$q: ${viols.mkString("; ")}")
      }
    assert(bad.isEmpty,
      s"partition-less Window over an unbounded scan in:\n${bad.mkString("\n")}")
  }

  test("makeAssociations scores inside the aggregator: no interpreted fold " +
    "anywhere in the executed plan, and the final aggregate keeps hash mode") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ZipWith}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Final
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.graft.BoundedObjectHashAggregateExec
    // > 128 keys per partition: past the stock exec's sort fallback
    val evs = (0 until 3000).map(i =>
      (s"T${i % 700}", s"D${i % 3}", s"e$i", (i % 97) / 97.0, (i % 89) / 89.0))
      .toDF("target_id", "disease_id", "evs_id", "genetics", "europepmc")
    val assoc = graft.pipeline.DrugDisease.makeAssociations(
      evs, Seq(col("target_id"), col("disease_id")))
    // collect runs this Dataset's own plan and finalizes its adaptive plan
    assert(assoc.collect().nonEmpty)
    // walk the FINAL adaptive plan, into its query stages (planChildren
    // reads an adaptive node's initial plan, before the stage-prep rules)
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.executedPlan)
      case o => o +: planChildren(o).flatMap(nodes)
    }
    val all = nodes(assoc.queryExecution.executedPlan)
    val folds = all.flatMap(_.expressions.flatMap(_.collect {
      case e @ (_: ArrayAggregate | _: ZipWith) => e
    }))
    assert(folds.isEmpty, assoc.queryExecution.executedPlan)
    val finals = all.collect {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(_.mode == Final) => a
    }
    assert(finals.nonEmpty, assoc.queryExecution.executedPlan)
    assert(finals.forall(_.isInstanceOf[BoundedObjectHashAggregateExec]),
      assoc.queryExecution.executedPlan)
  }

  test("pipeline: the decorated associations plan scans evidences, " +
    "predictions and interactions once, targets at most twice") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val in = graft.pipeline.RunPipelineBinarySpec.writeWorld(spark)
    val (assoc, _) = graft.pipeline.DrugDisease.run(
      graft.RunPipeline.inputs(spark, in, whitelistPath = None))
    try {
      // materialize the cache: AQE's exchange reuse shows only in the
      // final adaptive plans
      assoc.write.mode("overwrite").format("noop").save()
      // a reused exchange reads no input of its own
      def scans(p: SparkPlan): Seq[String] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case i: InMemoryTableScanExec => scans(i.relation.cachedPlan)
        case _: ReusedExchangeExec => Nil
        case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.getName)
        case o => o.children.flatMap(scans)
      }
      val plan = assoc.queryExecution.executedPlan
      val counts = scans(plan).groupBy(identity).map { case (f, xs) => f -> xs.size }
      // ceilings: the scans of the previous composition (pivot + join back,
      // undirect + two unequal gene broadcasts), lowered where this one
      // reads an input once
      val ceiling = Map(
        "evidences.json" -> 1, "predictions.parquet" -> 1,
        "interactions.json" -> 1, "targets.json" -> 2, "studies.parquet" -> 1,
        "drugs.json" -> 2, "diseases.json" -> 2, "faers_by_drug.json" -> 1,
        "faers_by_target.json" -> 1, "aggregations.json" -> 1)
      assert(counts.keySet == ceiling.keySet, counts)
      ceiling.foreach { case (f, n) => assert(counts(f) <= n, s"$f: $counts\n$plan") }
      Seq("evidences.json", "predictions.parquet", "interactions.json")
        .foreach(f => assert(counts(f) == 1, s"$f: $counts"))
    } finally assoc.unpersist()
  }
}
