package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RunMetrics

/** Shuffle-volume ground truth via task metrics: these specs pin the
  * MEASURED movement of operators whose whole point is not moving data —
  * the runtime complement to PlanShapeSpec's static pins.
  */
class RunMetricsSpec extends SparkSpec {
  import spark.implicits._

  test("a broadcast join moves zero shuffle records") {
    val big = spark.range(0, 10000).select(col("id"), (col("id") % 7).as("k"))
    val dim = spark.range(0, 7).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("label"))
    // noop sink: a count() would itself shuffle its partial states and
    // pollute the zero-assert
    val (_, m) = RunMetrics.measure(spark) {
      big.join(broadcast(dim), Seq("k"))
        .write.mode("overwrite").format("noop").save()
    }
    assert(m.shuffleWriteRecords == 0L, m)
    assert(m.tasks > 0L, m)
  }

  test("jobs count the actions run; task-seconds sum executor run time") {
    // narrow plan (no exchange): each noop write is exactly one job of
    // four tasks, and every task sleeps 2 × 10 ms inside the udf
    val slow = udf((x: Long) => { Thread.sleep(10); x })
    val df = spark.range(0, 8, 1, 4).select(slow(col("id")).as("id"))
    val (_, m) = RunMetrics.measure(spark) {
      (1 to 3).foreach(_ => df.write.mode("overwrite").format("noop").save())
    }
    assert(m.jobs == 3L, m)
    assert(m.tasks == 12L, m)
    assert(m.taskSeconds > 0.0, m)
    assert(m.taskSeconds >= 0.2, m)
  }

  test("a projection never seen before compiles at least one class") {
    // the literal is inlined into the generated code, so no earlier query
    // in this JVM can have cached this class
    val fresh = lit(System.nanoTime())
    val (_, m) = RunMetrics.measure(spark) {
      spark.range(0, 100).select((col("id") * fresh).as("x"))
        .write.mode("overwrite").format("noop").save()
    }
    assert(m.codegenCompiles >= 1L, m)
  }

  test("a groupBy shuffles at most one record per group per map partition") {
    // map-side partial aggregation: the exchange carries partial states,
    // never the input rows — 10k rows over 7 groups must shuffle far
    // fewer records than the input
    val df = spark.range(0, 10000).select((col("id") % 7).as("k"))
    val (_, m) = RunMetrics.measure(spark) {
      df.groupBy(col("k")).agg(count(lit(1))).collect()
    }
    assert(m.shuffleWriteRecords > 0L, m)
    assert(m.shuffleWriteRecords <= 7L * 32L, m) // groups x max map tasks
  }

  test("pagerank iterations shuffle score frames, not the edge cache") {
    // star graph: hub 0 <-> 1000 leaves, undirected = 2000 edges. The
    // edge frame shuffles ONCE (the pre-cache repartition); each of the 3
    // iterations then shuffles only node-count partial sums. If an
    // iteration re-shuffled the cached edges, the write volume would be
    // ~3x the edge count on top of the baseline.
    val edges = Graph.undirect(
      (1L to 1000L).map(l => (0L, l)).toDF("src", "dst"))
    val (_, m) = RunMetrics.measure(spark) {
      Graph.pagerankFixed(edges, iters = 3).collect()
    }
    // budget: one edge repartition (2000) + distinct pre-shuffle (2000) +
    // NODE-sized frames — deg for consts, deg for degc, and the three
    // per-iteration partial sums (~1001 each). ReuseExchange between the
    // consts and degc deg subtrees is NOT guaranteed across run contexts
    // (measured 8008 with reuse, 9009 without — r16), so the budget
    // admits both. The pinned failure stays an EDGE re-shuffle per
    // iteration, which would add 3 × 2000 = 6000 on top (≥ 15k total).
    assert(m.shuffleWriteRecords < 2L * 2000L + 6L * 1001L + 200L,
      s"edge cache appears to re-shuffle per iteration: $m")
  }

  test("k-core rounds move the edge set once; peels ride broadcasts") {
    // 2000 directed edges; mean degree 2*2000/1001 -> k=3: the hub
    // survives, every leaf peels in round 1. Edge-sized shuffle happens
    // exactly once (the pre-cache repartition + the distinct that feeds
    // it); the three rounds contribute only degree partials and 1-row
    // summary frames.
    val edges = Graph.undirect(
      (1L to 1000L).map(l => (0L, l)).toDF("src", "dst"))
    val (rows, m) = RunMetrics.measure(spark) {
      Graph.kcoreRounds(edges, rounds = 3).collect()
    }
    assert(rows.length == 3)
    // budget (r16 shape): undirect distinct (~2000) + one edge
    // repartition (2000) + NODE-sized degree partials — the k
    // countDistinct, the standalone n_alive count job, and round 1's two
    // broadcast alive builds each shuffle ~1001 partial rows (rounds 2-3
    // peel this graph to empty). ReuseExchange between the alive
    // subtrees is NOT guaranteed across run contexts (measured 7023
    // in-suite with partial reuse, 11014 isolated without — r16), so the
    // budget admits the no-reuse case. These are all node-sized partials
    // — the measured trade for checkpointed generations (kcore wall
    // 4.9-5.4 → 1.6-2.3 s; Probe kcoreform r16). The pinned failure
    // stays "a round re-shuffles the EDGE frame", which would add
    // ≥ 3 × 2000 = 6000 on top (≥ 17k total).
    assert(m.shuffleWriteRecords < 2L * 2000L + 10L * 1001L + 300L,
      s"a peel round appears to re-shuffle the edge frame: $m")
  }

  test("label propagation: the edge cache moves once; rounds shuffle " +
    "label-bounded frames") {
    // Same star graph as the pagerank pin. LPA's round-1 vote shuffle is
    // intrinsically LABEL-cardinality-bounded, not node-bounded (labels
    // start all-distinct, so round 1's (node, lbl) partials ≈ edge count
    // — unlike pagerank, whose partial SUM collapses by node regardless);
    // rounds 2+ collapse to node-sized as communities form. The pinned
    // failure mode is the edge CACHE re-shuffling per round, which would
    // add ~2000 records per round on top of this budget.
    val edges = Graph.undirect(
      (1L to 1000L).map(l => (0L, l)).toDF("src", "dst"))
    val (rows, m) = RunMetrics.measure(spark) {
      Graph.labelPropagation(edges, rounds = 3).collect()
    }
    assert(rows.nonEmpty)
    // budget: one edge repartition (2000) + undirect's distinct (~2000) +
    // round-1 label-bounded frames (~2x2000 across agg+window) + two
    // node-sized rounds (~3x1001 each)
    assert(m.shuffleWriteRecords < 2L * 2000L + 2L * 2000L + 7L * 1001L,
      s"a round appears to re-shuffle the edge cache: $m")
  }

  test("BFS rounds: one fused edge shuffle; rounds shuffle frontier-sized " +
    "frames only") {
    // Star graph as a directed multiset: 2000 rows (0<->1000 leaves, both
    // directions). The r9 bfsRounds contract pins two claims at runtime:
    // (1) edge prep is ONE fused exchange — repartition(src) writes the
    //     2000-row multiset and the following distinct adds NO second
    //     exchange (hash(src) satisfies its distribution); the pre-r9
    //     caller-side distinct-then-repartition shape wrote ~2x;
    // (2) each round's only exchange is the frontier-expansion distinct:
    //     round 1 shuffles the 1000 unseen dsts (anti-join runs BEFORE
    //     the distinct, so visited candidates never enter it), rounds
    //     2-3 shuffle ~0 (every dst already visited). localCheckpoints
    //     store partitions locally — no shuffle.
    // Budget: 2000 (edge prep) + 1000 (round 1) + agg partials. An edge
    // cache re-shuffling per round (+2000 each) or a second prep
    // exchange trips the 4000 bound.
    val leaves = (1L to 1000L)
    val edges = leaves.map(l => (0L, l)).toDF("src", "dst")
      .union(leaves.map(l => (l, 0L)).toDF("src", "dst"))
    val (rows, m) = RunMetrics.measure(spark) {
      Graph.bfsRounds(edges, rounds = 3).collect()
    }
    assert(rows.length == 1001, s"expected hub + 1000 leaves: ${rows.length}")
    assert(m.shuffleWriteRecords < 4000L,
      s"BFS moved more than one edge pass + one frontier: $m")
  }

  test("two-star CC: per-round shuffles stay edge-bounded across the run") {
    // Path graph 0-1-...-63 (worst-case diameter for CC): two-star
    // converges in ~log² rounds (≤6 here incl. the isStar certificates).
    // Each round is a FIXED number of edge-bounded exchanges — large-star
    // sym groupBy + join, small-star min + closing distinct, one isStar
    // certificate — on a frame that only SHRINKS (edges collapse toward
    // their component min). The pinned failure mode is lineage regrowth:
    // without the per-round localCheckpoint, round r re-derives rounds
    // 1..r-1 (the 12×/round fan-out, SCALE.md) and total shuffle volume
    // goes quadratic in rounds. Budget: ≤6 rounds × ~6 exchanges ×
    // ~2|E| (sym frames, 126 rows) ≈ 4.5k; measured ~2-3k; regrowth
    // multiplies it several-fold.
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val (rows, m) = RunMetrics.measure(spark) {
      graft.llm.Dedup.componentsTwoStar(pairs).collect()
    }
    assert(rows.length == 64 && rows.forall(_.getLong(1) == 0L),
      "path must collapse to one component rooted at 0")
    assert(m.shuffleWriteRecords < 8000L,
      s"two-star rounds shuffled beyond the edge-bounded budget: $m")
  }

  test("bloom prefilter probes at the scan: only build-side partials " +
    "shuffle, never the probed fact rows") {
    val fact = spark.range(0, 20000)
      .select(col("id").as("k"), (col("id") * 2).as("payload"))
    val dim = spark.range(0, 100).select((col("id") * 100).as("k"))
    val mBits = Bloom.bitsFor(100, 0.01)
    val k = Bloom.hashesFor(mBits, 100)
    val (n, m) = RunMetrics.measure(spark) {
      Bloom.prefilter(fact, "k", dim, "k", mBits, k)
        .write.mode("overwrite").format("noop").save()
    }
    // the only exchange is the bitset build's single-partition agg: a
    // handful of partial-bitset rows, nothing fact-sized
    assert(m.shuffleWriteRecords < 100L,
      s"fact rows leaked into a shuffle before the bloom probe: $m")
  }

  test("KMV rollup shuffles k-bounded sketch partials, never event rows") {
    // the q_etl_kmv_rollup claim, runtime-measured: the daily aggregation's
    // exchange carries per-(day, partition) KMV buffers of ≤ k hashes —
    // map-side combined — and the weekly merge moves only day-sketch rows,
    // so total shuffle RECORDS are day-cardinality-bounded, far under one
    // per event. A lost partial (buffer failing to combine map-side) would
    // shuffle ~n event rows and trip the bound.
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    assume(new java.io.File(sfDir).isDirectory,
      s"fixture dir $sfDir absent — set SPARK_GRAFT_FIXTURE_DIR")
    val ev = graft.ops.Core.table(spark, sfDir, "events")
    val n = ev.count()
    val (_, m) = RunMetrics.measure(spark) {
      graft.SparkEntry.queries("q_etl_kmv_rollup")(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    }
    // partial-sketch rows (days × map partitions) + the weekly re-agg +
    // the exact-audit's countDistinct partials — all keyed frames, all
    // far smaller than the event count
    assert(m.shuffleWriteRecords < n / 2,
      s"event rows leaked into a shuffle: $m (n=$n)")
  }

  test("LSH near-dup screen: arriving docs never shuffle — only the index " +
    "build's signature partials move") {
    // the q_stream_lsh_batch / Streams.lshNearDupTagStream claim, runtime-
    // measured: per-row signatures + the broadcast 1-row bitset leave the
    // arriving side shuffle-free; the only exchanges are the corpus index
    // build's grouped-signature partials (src0-doc-bounded) and the bloom
    // agg's single row. If the arriving docs' signature path regressed to
    // the grouped form (explode + groupBy), their rows would enter a
    // shuffle and trip the bound.
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    assume(new java.io.File(sfDir).isDirectory,
      s"fixture dir $sfDir absent — set SPARK_GRAFT_FIXTURE_DIR")
    val docs = graft.ops.Core.table(spark, sfDir, "documents")
    val arriving = docs.where(col("source") =!= "src0").count()
    val (_, m) = RunMetrics.measure(spark) {
      graft.SparkEntry.queries("q_stream_lsh_batch")(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    }
    assert(m.shuffleWriteRecords < arriving,
      s"arriving docs leaked into a shuffle: $m (arriving=$arriving)")
  }

  test("global-id assignment moves the corpus once: shard window exchange " +
    "only, offsets ride partials + a broadcast") {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    assume(new java.io.File(sfDir).isDirectory,
      s"fixture dir $sfDir absent — set SPARK_GRAFT_FIXTURE_DIR")
    val n = graft.ops.Core.table(spark, sfDir, "documents").count()
    val (_, m) = RunMetrics.measure(spark) {
      graft.SparkEntry.queries("q_etl_global_ids")(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    }
    // one corpus-sized exchange (the per-shard window) + the offset
    // frame's partial counts (shards x map tasks) and its 32-row global
    // window. A second corpus pass — e.g. the offsets agg failing to
    // map-side-combine, or the join demoting to a shuffle — would double it.
    assert(m.shuffleWriteRecords >= n, s"expected the shard exchange: $m")
    assert(m.shuffleWriteRecords < 2 * n,
      s"global-id assignment re-shuffled the corpus: $m (n=$n)")
  }

  test("sketch rollup shuffles sketch words, never event rows") {
    // the q_etl_sketch_rollup claim, runtime-measured: the fact scan's
    // exchange carries per-(day, word) PARTIAL bitmaps (map-side bit_or),
    // and the weekly re-aggregation moves only the sketch table — so total
    // shuffle volume is bounded by sketch cardinality x map tasks, far
    // under one event per row. A lost map-side combine (e.g. the bit_or
    // partial failing) would shuffle ~n event rows and trip the bound.
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    assume(new java.io.File(sfDir).isDirectory,
      s"fixture dir $sfDir absent — set SPARK_GRAFT_FIXTURE_DIR")
    val ev = graft.ops.Core.table(spark, sfDir, "events")
    val n = ev.count()
    val sketchCard = ev.select(
      org.apache.spark.sql.functions.expr(
        "unix_micros(ts) div 86400000000").as("day"),
      org.apache.spark.sql.functions.expr("user_id div 64").as("w"))
      .distinct().count()
    val (_, m) = RunMetrics.measure(spark) {
      graft.SparkEntry.queries("q_etl_sketch_rollup")(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    }
    // partials per exchange <= sketch rows x map tasks (4 in tests); 3
    // exchanges (daily, weekly, final) each strictly sketch-sized
    assert(m.shuffleWriteRecords > 0, m)
    assert(m.shuffleWriteRecords <= 3L * sketchCard * 4L,
      s"sketch rollup shuffled more than sketch-sized frames: $m " +
        s"(sketch=$sketchCard, events=$n)")
    assert(m.shuffleWriteRecords < n,
      s"sketch rollup appears to shuffle event rows: $m (n=$n)")
  }

  test("two-level IVF assign: the corpus rides broadcasts — only " +
    "centroid-sized frames shuffle") {
    // The q_sim_knn_graph_trained scale claim, runtime-measured: the
    // full-corpus assign is crossJoin(broadcast(coarse)) + two broadcast
    // probe joins, so the n-row side never enters an exchange. The only
    // shuffles are centroid-side: the coarse collect_list partials and
    // the per-cell fine-list groupBy — both bounded by C x map tasks,
    // independent of n. A regression that demotes a probe join to a
    // shuffle join (or computes fine cells from a corpus-lineage frame)
    // moves ~n records and trips the bound by an order of magnitude.
    val n = 5000
    val dim = 8
    val mkV = (id: org.apache.spark.sql.Column) =>
      org.apache.spark.sql.functions.transform(
        org.apache.spark.sql.functions.sequence(lit(0), lit(dim - 1)),
        i => ((id * 31 + i) % 97 + 1).cast("double") / 97.0)
    val e = spark.range(0, n)
      .select(col("id").as("vec_id"), mkV(col("id")).as("v"))
    val cents = spark.range(0, 25)
      .select(col("id").as("cid"), mkV(col("id") * 113).as("cv"),
        (col("id") < 5).as("is_coarse"))
    val (_, m) = RunMetrics.measure(spark) {
      graft.queries.SimSearch.assignTwoLevelAgainst(e, cents)
        .write.mode("overwrite").format("noop").save()
    }
    assert(m.shuffleWriteRecords > 0, m)
    assert(m.shuffleWriteRecords <= 1000L,
      s"assign shuffled beyond centroid-sized frames: $m (C=25)")
    assert(m.shuffleWriteRecords < n / 2L,
      s"the corpus appears to enter an exchange: $m (n=$n)")
  }
}
