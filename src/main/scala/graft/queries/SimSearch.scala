package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Core
import graft.llm.Vectors

/** Similarity search over the `embeddings` table (`array<float>` column):
  * brute-force cosine as ground truth, sign-LSH banding and IVF bucketing as
  * the 100 TB paths. All constants (hyperplanes, centroid choice) are
  * deterministic and hash-derived, so the DuckDB oracle reproduces every
  * result bit-for-bit — the same literals are embedded in both plans.
  */
object SimSearch {
  import Core.table

  type Q = (SparkSession, String) => DataFrame

  val Dim = 64
  val NPlanes = 16
  val Bands = 4 // 4 bands x 4 sign bits
  val NearDupThreshold = 0.4
  val NCentroids = 8

  /** Scale-adaptive banding config (q_sim_ann_lsh_scaled): the plane pool
    * both engines draw from, the per-band target bucket occupancy, and the
    * production near-dup threshold. bits/band = clamp(4..12,
    * ceil(log2(n / occupancy))) — bucket count GROWS with n so candidates
    * stay ≈ bands · occupancy · n (linear), where the fixed 4×4 config's
    * candidates are n²·bands/16 (the engine's one measured superlinearity,
    * SCALE.md). At τ = 0.8 (p_plane ≈ 0.795) the narrow buckets keep
    * usable recall (0.795¹¹ ≈ 0.08/band × 8 bands ≈ 0.49 at n = 20k);
    * at the oracle fixture's τ = 0.4 this regime is impossible — see the
    * q_sim_ann_lsh scaladoc — which is why BOTH configs ship.
    */
  val ScaledNPlanes = 96
  val ScaledOccupancy = 16
  val ScaledMinBits = 4
  // 24, not 12: the cap is itself a fixed capacity, and the r9 1000×
  // sweep measured exactly the failure the sizing law exists to prevent —
  // at n = 2M the old 12-bit clamp froze the bucket count at 4096/band,
  // occupancy grew to ~490, and the candidate join spilled >60 GB of
  // shuffle to disk (the fourth "fixed capacity = quadratic time bomb",
  // after fixed LSH banding, fixed knn/semdedup C, and corpus-scaling
  // BM25 queries). 24 bits keeps bands = 96/bits ≥ 4 inside the fixed
  // plane pool and holds occupancy ≈ 16 to n = 16·2²⁴ ≈ 268M vectors;
  // past THAT the pool itself must grow (more planes), which changes
  // fixture outputs — a deliberate cliff, documented not hidden. Recall
  // per band decays as p^bits (constant-candidate LSH trades recall as
  // n grows); constant-recall LSH needs n^ρ more bands — at that regime
  // use the IVF/trained-kNN family, which holds recall with √C assign.
  val ScaledMaxBits = 24
  val ScaledThreshold = 0.8

  /** bits/band for n vectors — the Scala twin of the oracle's
    * GREATEST/LEAST/ceil(log2(...)) expression (exact for any n: the only
    * boundary cases are exact powers of two, where IEEE log2 is exact in
    * both engines).
    */
  def scaledBits(n: Long): Int =
    math.max(ScaledMinBits, math.min(ScaledMaxBits,
      math.ceil(math.log(n / ScaledOccupancy.toDouble) / math.log(2.0)).toInt))

  /** Adaptive-banding candidate pairs (v1 < v2, distinct) plus the config
    * derived from the corpus count — shared by q_sim_ann_lsh_scaled and the
    * candidate-quality pins in AnnRecallSpec. Returns (pairs, n, bits,
    * bands). The count() is the "cheap count": parquet row-count metadata,
    * one footer read at any scale.
    */
  def scaledLshCandidates(s: SparkSession, d: String): (DataFrame, Long, Int, Int) = {
    val (banded, n, bits, bands) = scaledLshBanded(embeds(s, d))
    val pairs = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"))
      .distinct()
    (pairs, n, bits, bands)
  }

  /** The (vec_id, band, bucket) frame behind the adaptive-banding pair
    * join, with the count-derived config — factored out so variants (the
    * rep-collapsed path, the skew probe) reuse the exact banding.
    */
  def scaledLshBanded(e: DataFrame): (DataFrame, Long, Int, Int) = {
    val n = e.count()
    val bits = scaledBits(n)
    val bands = ScaledNPlanes / bits
    val used = bands * bits
    // ONE compiled pass over the plane matrix (r16, guide §4/§7.3): the
    // old shape projected `used` separate dotConst sign bits — each a
    // 64-double ARRAY LITERAL in the plan — then re-packed them into
    // band buckets; at 96 planes the ANALYZED tree alone cost ~1.5 s of
    // driver time per run (q_sim_ann_lsh_scaled: 2.07 s wall, 1.5
    // task-seconds). SignBuckets holds the matrix as one reference
    // object and emits the bucket-per-band array; band = position
    // (SignBucketsSpec pins row equality against the literal form).
    val planeArr = AllPlanes.take(used)
      .map(_.map(_.toDouble).toArray).toArray
    val banded = e
      .select(col("vec_id"),
        org.apache.spark.sql.graft.GraftSql
          .signBuckets(col("v"), planeArr, bits).as("bk"))
      .select(col("vec_id"), posexplode(col("bk")))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("bucket"))
    (banded, n, bits, bands)
  }

  /** Recall floor pinned by AnnRecallSpec. Sign-LSH theory at this config:
    * a cos-0.4 pair (θ≈66°) collides in one 4-bit band with prob
    * (1-θ/π)⁴ ≈ 0.16, so over 4 bands recall ≈ 1-(1-0.16)⁴ ≈ 0.50;
    * measured 0.47 (sf0.001) / 0.41 (sf0.01). Deterministic fixtures +
    * hash-derived planes make the measurement exact, so 0.35 is a real
    * floor, not a flaky one. Raising recall = more bands or fewer
    * bits/band — a NPlanes/Bands retune, not a code change.
    */
  val MinLshRecall = 0.35

  /** Deterministic sign-LSH hyperplane pool, shared by plan and oracle.
    * hyperplanes() is indexed per (p, i), so the 16-plane family used by
    * the fixed 4×4 config is exactly the pool's prefix.
    */
  val AllPlanes: Seq[Seq[Int]] = Vectors.hyperplanes(ScaledNPlanes, Dim)
  val Planes: Seq[Seq[Int]] = AllPlanes.take(NPlanes)

  private[graft] def embeds(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
      .select(col("vec_id"), Vectors.vecD(col("embedding")).as("v"))

  /** (vec_id, vn) with vn unit-normalized ONCE — the n² pair loop then pays
    * one codegen'd dot per pair instead of dot + two norms. The norm itself
    * rides the codegen'd dot (not the per-element HOF fold); `nrm` sits
    * behind its own projection so the 64-lane transform reads an attribute.
    */
  private[graft] def normEmbeds(s: SparkSession, d: String): DataFrame =
    embeds(s, d)
      .withColumn("nrm", sqrt(Vectors.dotFast(col("v"), col("v"))))
      .select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("vn"))

  /** (vec_id, v, bucket): max-cosine centroid assignment over the first
    * `nc` vectors as stand-in centroids (ties → higher cid, matching the
    * oracle's ORDER BY cos DESC, cid DESC). Centroid norms ride IN the
    * broadcast struct and the row norm is a materialized attribute, so
    * the per-row argmax pays ONE native DotProduct eval per centroid
    * instead of three interpreted HOF folds (dot + both norms, the row
    * norm re-folded per centroid — measured 2× on q_sim_knn_graph).
    * FP-identical to round(cosine(v,cv),6): DotProduct sums in the same
    * ascending element order as the HOF fold, and the (nrm·cnrm) product
    * multiplies the same two sqrt values in the same order.
    */
  private[graft] def bucketAssign(e: DataFrame, nc: Int): DataFrame = {
    val cents = e.where(col("vec_id") < nc)
      .select(struct(col("vec_id").as("cid"), col("v").as("cv"),
        sqrt(Vectors.dotFast(col("v"), col("v"))).as("cnrm")).as("c"))
      .groupBy().agg(collect_list(col("c")).as("cents"))
    e.select(col("vec_id"), col("v"),
        sqrt(Vectors.dotFast(col("v"), col("v"))).as("nrm"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"),
        Vectors.argmaxCos(col("cents"), col("v"), col("nrm"), lit(-1L))
          .getField("cid").as("bucket"))
  }

  /** The max (cos, cid) struct over a broadcast centroid-struct array —
    * the shared argmax kernel of the IVF assigns. Cosine ties break
    * toward the HIGHER cid, matching the oracles' ORDER BY cos DESC,
    * cid DESC. Callers that argmax over SEVERAL candidate arrays take
    * `greatest` of the per-array maxima instead of concatenating the
    * arrays first: max is associative, struct ordering
    * is the same lexicographic (cos, cid), and `greatest` skips a null
    * (empty-array) side — but the concat form deep-copies every
    * element's 64-double vector into a fresh row-local array (~90 KB per
    * probe cell per ROW), which at 2M vectors measured as ~2× the
    * entire flat-assign wall (SCALE.md r9 1000× sweep). Per-cell argmax
    * reads the broadcast-side vectors in place.
    */
  private def argmaxStruct(cents: Column, v: Column, nrm: Column): Column =
    // native ArgmaxCos (FP-identical to the HOF
    // array_max(transform(struct(round(dot/(nrm·cnrm),6), cid))) form it
    // replaces — ArgmaxCosSpec pins the equivalence): the HOF allocated a
    // C-element struct array per row outside whole-stage codegen, which
    // Probe r10 measured as the dominant assign cost at 2M vectors
    Vectors.argmaxCos(cents, v, nrm, lit(-1L))

  /** Two-level (coarse → fine) IVF assignment with a top-2 coarse probe —
    * the hierarchical assign that removes the flat scan's n·C ceiling
    * (SCALE.md): each vector finds its TWO max-cosine coarse centroids
    * among the n1 ≈ √C coarse stand-ins (prefix vectors), then argmaxes
    * only over the fine centroids whose own coarse cell is one of the
    * two — n·(n1 + 2·C/n1) ≈ 3n·√C dots instead of n·C (FAISS's IVF
    * training shape; the second probe is the standard mis-assignment
    * mitigation for vectors near a coarse Voronoi boundary — measured at
    * sf10 it halves the bucket-size skew Σsize² from 3.3× flat to 1.6×
    * while keeping the assign 5× cheaper than flat). The bucket is
    * DEFINED by this two-level two-probe argmax: both engines run it
    * bit-for-bit, so the assignment approximation is part of the
    * contract, not drift. Coarse centroids are the fine prefix, so every
    * vector's FIRST cell holds at least that cell's defining fine
    * centroid (cos(c,c) = 1; ties break toward the higher cid in both
    * engines) — the probe-1 join is never empty; a probe-2 cell that no
    * fine centroid chose simply contributes nothing (left join). The
    * per-cell fine lists broadcast (C vectors total); past broadcast
    * size the same plan swaps to a shuffle join on the cell id, and the
    * coarse level recurses — each level is this method again.
    */
  private def bucketAssignTwoLevel(e: DataFrame, nc: Int, n1: Int): DataFrame =
    assignTwoLevelAgainst(e,
      e.where(col("vec_id") < nc)
        .select(col("vec_id").as("cid"), col("v").as("cv"),
          (col("vec_id") < n1.toLong).as("is_coarse")))

  /** The two-level two-probe assign against an ARBITRARY centroid frame
    * (cid, cv, is_coarse) — the form IVF training needs (trained means
    * are not corpus prefixes, and under ScaleUp's 10¹²-offset ids a
    * `cid < bound` coarse rule collapses to copy-0 only, measured at
    * sf10). The coarse level is the `is_coarse`-flagged SUBSET of the
    * centroids — subset so every coarse cell holds at least its own
    * defining fine centroid. Semantics otherwise identical to
    * bucketAssignTwoLevel's scaladoc.
    */
  private[graft] def assignTwoLevelAgainst(e: DataFrame,
      centsDf: DataFrame): DataFrame = {
    val withNrm = centsDf.select(col("cid"), col("cv"), col("is_coarse"),
      sqrt(Vectors.dotFast(col("cv"), col("cv"))).as("cnrm"))
    val coarse = withNrm.where(col("is_coarse"))
      .select(struct(col("cid"), col("cv"), col("cnrm")).as("c"))
      .groupBy().agg(collect_list(col("c")).as("cents"))
    // norm materialized BEFORE the crossJoin (r6 ivf trap: derived
    // columns computed after a 1-row crossJoin can fail resolution when
    // sibling branches share lineage); the scored array and its max each
    // materialize behind their own select (Catalyst re-evaluates repeated
    // non-attribute subexpressions per reference)
    // top-2 coarse probe via TWO ArgmaxCos passes (second excludes the
    // first's winner) instead of materializing a scored n1-struct array
    // per row and array_max/filter-ing it twice: the re-dot of pass 2 is
    // cheaper than the per-row array allocation the HOF form paid
    // (Probe r10), and `coarse` sits behind its own select so the
    // exclude argument reads an attribute (Catalyst re-evaluates
    // repeated non-attribute subexpressions)
    def withTop2(rows: DataFrame) = rows
      .select(col("vec_id"), col("v"),
        sqrt(Vectors.dotFast(col("v"), col("v"))).as("nrm"))
      .crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("v"), col("nrm"), col("cents"),
        Vectors.argmaxCos(col("cents"), col("v"), col("nrm"), lit(-1L))
          .getField("cid").as("coarse"))
      .select(col("vec_id"), col("v"), col("nrm"), col("coarse"),
        Vectors.argmaxCos(col("cents"), col("v"), col("nrm"), col("coarse"))
          .getField("cid").as("coarse2"))
    // fine centroids' own coarse cells derive from the (small) centroid
    // frame itself, not from a shared big-side frame: the C-row branch
    // re-derives cheaply and the n-row assign runs once. A fine centroid
    // belongs to its FIRST cell only.
    val fineByCell =
      withTop2(centsDf.select(col("cid").as("vec_id"), col("cv").as("v")))
        .groupBy(col("coarse"))
        .agg(collect_list(struct(col("vec_id").as("cid"), col("v").as("cv"),
          col("nrm").as("cnrm"))).as("fcents"))
    val f1 = fineByCell.select(col("coarse").as("c1"), col("fcents").as("fc1"))
    val f2 = fineByCell.select(col("coarse").as("c2"), col("fcents").as("fc2"))
    // BOTH probes join left: under duplicated vectors (ScaleUp copies) a
    // tie-broken coarse argmax can leave a vector's probe-1 cell with no
    // fine members while probe-2 still has candidates — an inner probe-1
    // join would drop the vector where the oracle keeps it. A vector
    // with two empty cells argmaxes an empty array → null bucket, which
    // the knn tail's bucket equi-join excludes — the oracle's no-rows
    // outcome exactly.
    val emptyF = array().cast(
      "array<struct<cid:bigint,cv:array<double>,cnrm:double>>")
    // per-cell argmax + greatest, NOT argmax over concat(fc1, fc2): the
    // concat deep-copied both cells' vectors into a fresh ~180 KB array
    // per row, and that memcpy (not the dots) dominated the assign at 2M
    // vectors — see argmaxStruct's scaladoc. Semantics are identical:
    // max is associative, (cos, cid) struct order gives the same
    // higher-cid tie-break, greatest skips the null an empty cell yields,
    // and both cells null still degrades to a null bucket.
    withTop2(e)
      .join(broadcast(f1), col("coarse") === col("c1"), "left")
      .join(broadcast(f2), col("coarse2") === col("c2"), "left")
      // per-cell max structs materialized as ATTRIBUTES: bucket and
      // bucket2 both read them — inlined, Catalyst would re-run each
      // ArgmaxCos kernel once per consumer (hard-won rule)
      .select(col("vec_id"),
        argmaxStruct(coalesce(col("fc1"), emptyF), col("v"), col("nrm"))
          .as("m1"),
        argmaxStruct(coalesce(col("fc2"), emptyF), col("v"), col("nrm"))
          .as("m2"))
      .select(col("vec_id"),
        greatest(col("m1"), col("m2")).getField("cid").as("bucket"),
        // the OTHER probed cell's winner (probe-2 search tail) — null
        // when either cell is empty (greatest/least both skip nulls, so
        // least would collapse onto bucket). cids are distinct across
        // cells (a fine centroid belongs to its first cell only), so
        // least(m1, m2) is always the non-primary winner.
        when(col("m1").isNotNull && col("m2").isNotNull,
          least(col("m1"), col("m2")).getField("cid")).as("bucket2"))
  }

  /** STATIC variant of assignTwoLevelAgainst — the operator-level decoded
    * centroid relation (the r11 scale analysis's named assign lever): the
    * centroid frame is COLLECTED at plan time (C rows — this path exists
    * only in the broadcast regime, where the dynamic plan ships the same
    * bytes as broadcast relations anyway), decoded to primitive arrays on
    * the driver, and shipped once per executor via sc.broadcast. Each row
    * then pays pure primitive-array loops instead of the dynamic plan's
    * per-row getStruct/getArray virtual calls over broadcast bytes — the
    * layer Probe measured as the 2M assign's dominant cost (SCALE.md
    * r11: decode A/B showed the dot loop itself was already cheap).
    * Output is row-identical to assignTwoLevelAgainst by construction
    * (same FP order, rounding, tie-breaks, null semantics — see
    * TwoLevelIndex's scaladoc); StaticAssignSpec pins it on prefix,
    * trained, and duplicated-corpus frames.
    */
  private[graft] def assignTwoLevelAgainstStatic(e: DataFrame,
      centsDf: DataFrame): DataFrame = {
    val assign = staticAssignColumn(centsDf)
    e.select(col("vec_id"), assign(col("v")).as("a"))
      .select(col("vec_id"),
        col("a").getField("bucket").as("bucket"),
        col("a").getField("bucket2").as("bucket2"))
  }

  /** The static assign as a reusable COLUMN factory: collect + decode +
    * broadcast happen once at the call, and the returned function can be
    * applied to any vector column any number of times (e.g. once per
    * micro-batch in a streaming foreachBatch) without re-collecting the
    * centroid frame. Result column is struct<bucket, bucket2>.
    */
  private[graft] def staticAssignColumn(centsDf: DataFrame): Column => Column = {
    val rows = centsDf.select(col("cid"), col("cv"), col("is_coarse")).collect()
    val cents = rows.map { r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getBoolean(2))
    }
    val idx = org.apache.spark.sql.graft.TwoLevelIndex.build(cents)
    val bc = centsDf.sparkSession.sparkContext.broadcast(idx)
    v => org.apache.spark.sql.graft.GraftSql.twoLevelAssign(v, bc)
  }

  /** Sampled IVF training — one approximate-Lloyd round, fully
    * declarative (no driver-held state, unlike llm.KMeans' k=8 literal
    * centroids): assign the SAMPLE to prefix stand-in centroids with the
    * two-level assign (FAISS trains its quantizer with approximate
    * assignment for exactly this reason), then the M-step mean per
    * bucket/dimension. Returns (cid, cv) — cids are the surviving
    * stand-in ids (empty buckets vanish), cv components round(avg, 6)
    * so the trained values are hash-exact cross-engine (the
    * q_sim_ann_kmeans precedent). Training cost is sample-sized; the
    * corpus is only touched by the final assign the caller runs.
    */
  private def trainCentroids(sample: DataFrame,
      cents0: DataFrame): DataFrame = {
    // static assign here too (r12): cents0 is stand-in-sized, and the
    // sample-side assign gets the same primitive-loop kernel
    val asg = assignTwoLevelAgainstStatic(sample, cents0)
      .where(col("bucket").isNotNull)
    sample.join(asg, Seq("vec_id"))
      .select(col("bucket"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("bucket"), col("i"))
      .agg(round(avg(col("x")), 6).as("cx"))
      .groupBy(col("bucket"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("cx")))),
        p => p.getField("cx")).as("cv"))
      .select(col("bucket").as("cid"), col("cv"))
  }

  /** Range-sharded candidate verify — the path past the ~10⁷-vector
    * broadcast ceiling of the LSH verify stage (q_sim_ann_lsh_scaled
    * broadcasts the WHOLE normalized table twice; ~0.5 KB/vector caps
    * that at executor memory). The vector table splits into `shards`
    * hash-ranges; candidates partition exactly over the (v1-shard,
    * v2-shard) grid, and each grid cell joins two SHARD-sized broadcasts
    * — peak broadcast memory |table|/shards, and pairs still never carry
    * a 64-double array through an exchange (the property whose loss
    * measured as a >60 GB spill-kill at 2M vectors, SCALE.md r9).
    * ReuseExchange collapses the grid's 2·R² broadcast references to 2R
    * physical builds (each shard's broadcast is the same exchange reused
    * across its row/column of the grid — ShardedVerifySpec pins the
    * build count). Cost: the candidate source is re-scanned R² times; at
    * cluster scale candidates ride a localCheckpoint partitioned by the
    * shard pair so each cell reads only its own partition — the
    * FAISS sharded-replica trade (memory ∝ 1/R for scan-fan-out ∝ R).
    * Output ≡ the broadcast path row-for-row (spec-pinned equality).
    */
  private[graft] def shardedCosVerify(en: DataFrame, pairs: DataFrame,
      shards: Int): DataFrame = {
    def shardOf(c: Column) = pmod(xxhash64(c), lit(shards.toLong))
    val branches = for {
      r1 <- 0 until shards
      r2 <- 0 until shards
    } yield pairs
      .where(shardOf(col("v1")) === r1 && shardOf(col("v2")) === r2)
      .join(broadcast(en.where(shardOf(col("vec_id")) === r1)
        .select(col("vec_id").as("v1"), col("vn").as("a"))), Seq("v1"))
      .join(broadcast(en.where(shardOf(col("vec_id")) === r2)
        .select(col("vec_id").as("v2"), col("vn").as("b"))), Seq("v2"))
    branches.reduce(_ union _)
      .select(col("v1"), col("v2"),
        round(Vectors.dotFast(col("a"), col("b")), 6).as("cos"))
  }

  /** The full trained-centroid assignment pipeline — deterministic 1-in-16
    * hash sample → hash-picked stand-ins → one approximate-Lloyd round
    * (trainCentroids) → two-level assign of the FULL corpus against the
    * trained means. Returns (vec_id, bucket, bucket2); bucket may be null
    * when both probed cells are empty, bucket2 (the other probed cell's
    * winner, for probe-2 search tails) when either is (see
    * assignTwoLevelAgainst). Shared by the
    * trained kNN graph and semdedup: trained means spread with the DATA
    * distribution, where prefix stand-ins collapse to copy-0 under
    * ScaleUp's 10¹²-offset ids and skew the in-bucket pair stage — the r9
    * sf100 sweep measured the prefix two-level assign filling only 2000 of
    * 31250 buckets at 2M vectors (Σsize² 8.6e9 vs uniform 1.3e8, a ~66×
    * pair-work inflation that made semdedup SLOWER than the flat assign it
    * replaced). Every membership decision is a count-derived HASH
    * predicate, never an id-prefix threshold (the 10¹²-offset trap);
    * E[|sample|] = n/16, E[|stand-ins|] = C = max(32, n/64),
    * E[|coarse|] = n1 ≈ √C. Training cost is sample-sized; the corpus is
    * touched once by the final broadcast-centroid assign.
    */
  private def trainedAssign(e: DataFrame, occupancy: Long = 64): DataFrame =
    // STATIC assign (r12): the trained frame is collected once into the
    // decoded broadcast index, so the old two-consumer cache is gone —
    // one action runs the sampled-Lloyd lineage. Measured same-session
    // A/B at 2M vectors: 38.8-46.9 s dynamic vs 30.2-33.4 s (+ ~4 s
    // collect/build/broadcast setup) static, both orders; 6.7 → 1.6 s at
    // sf10. q_sim_knn_graph_2l keeps the DYNAMIC plan under its own
    // oracle so the beyond-broadcast path stays exercised.
    assignTwoLevelAgainstStatic(e, trainedCentroidFrame(e, e.count(), occupancy))

  /** The training half of trainedAssign — sample, stand-ins, one Lloyd
    * round, coarse flags — its own method because other assigns and
    * specs use the trained frame without the corpus assign. Returns (cid, cv, is_coarse), E[C] = max(32,
    * n/occupancy) rows. `occupancy` (default 64 — the registered/oracled
    * configuration) is the index-side recall/cost lever: fewer vectors
    * per cell ⇒ more cells ⇒ fewer candidates per probe.
    */
  private[graft] def trainedCentroidFrame(e: DataFrame, n: Long,
      occupancy: Long = 64): DataFrame = {
    val Mod = 16
    val c = math.max(32L, n / occupancy)
    val n1 = math.max(4L, math.ceil(math.sqrt(c.toDouble)).toLong)
    val kf = math.max(1L, n / (Mod * c))
    val kc = math.max(1L, c / n1)
    def h(salt: String) =
      Core.md5Hash64(concat(lit(salt), col("vec_id").cast("string")))
    val sample = e.where(pmod(h("samp|"), lit(Mod)) === 0)
    val cents0 = sample.where(pmod(h("cent|"), lit(kf)) === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        (pmod(Core.md5Hash64(concat(lit("coarse|"),
          col("vec_id").cast("string"))), lit(kc)) === 0).as("is_coarse"))
    trainCentroids(sample, cents0)
      .withColumn("is_coarse",
        pmod(Core.md5Hash64(concat(lit("coarse|"),
          col("cid").cast("string"))), lit(kc)) === 0)
  }

  /** Build-once (marker-gated, LlmOps.storeOnce) KnnStore over the
    * fixture embeddings at the shared "beamstore" scratch root — serves
    * both store-backed beam queries (single + batch); repeat runs in one
    * JVM pay only the walk.
    */
  private def ensureBeamStore(s: SparkSession, d: String): String =
    LlmOps.storeOnce(s, d, "beamstore") { root =>
      val e = embeds(s, d)
      val cents = trainedCentroidFrame(e, e.count()).localCheckpoint(true)
      KnnStore.build(s, e, cents, root, 3)
    }

  /** A probe-2 frame's probed cells, one row each: the primary and the
    * second cell, a null cell dropped (a null primary means both probed
    * cells are empty; a null second cell means probe-1).
    */
  private[graft] def probedCells(primary: Column, second: Column): Column =
    explode(array_compact(array(primary, second)))

  /** The probe/member candidate relation with exact cosine: (vec_id, nbr,
    * cos) for every member y of a cell that x probes, y ≠ x. Both frames
    * carry (vec_id, vn, bucket) — on `probes` the probed cell, on
    * `members` the primary cell — so a neighbour is matched at most once
    * per probing vector (probed cells are distinct by construction). The
    * kNN tail and every KnnStore build/maintenance fold score through
    * this one join.
    */
  private[graft] def candidates(probes: DataFrame,
      members: DataFrame): DataFrame =
    probes.as("x")
      .join(members.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("nbr"),
        round(Vectors.dotFast(col("x.vn"), col("y.vn")), 6).as("cos"))

  /** Per-vector top-k of scored pairs (vec_id, nbr, cos) → (vec_id, rank,
    * nbr, cos) through the bounded TopKPairDistinctAgg: map-side combine
    * (k pairs per vector per partition), never a shuffled or sorted pair
    * relation, and (cos DESC, nbr ASC) ≡ row_number ranks. Repeated
    * (vec_id, nbr) pairs collapse in the buffer (equal id ⇒ equal cosine,
    * the aggregator's guarded contract); on a pair set unique per (vec_id,
    * nbr) it equals TopKPairAgg.
    */
  private[graft] def topK(pairs: DataFrame, k: Int): DataFrame =
    pairs.groupBy(col("vec_id"))
      .agg(graft.functions.TopKPairDistinctAgg
        .topK(col("cos"), col("nbr"), k).as("t"))
      .select(col("vec_id"), posexplode(col("t")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("nbr"), col("col._1").as("cos"))

  /** The kNN-within-bucket tail over an assignment (vec_id, bucket,
    * bucket2): each vector scans the primary members of its probed cells
    * (nprobe=2 — the recall lever for vectors near a Voronoi boundary;
    * probe-1 is bucket2 = null) and keeps its top-k by exact cosine.
    *
    * vn rides INTO the cell join (the semdedup pair-stage shape, r10): an
    * ids-only join plus two vector re-fetch joins sorted the PAIR-sized
    * frame (occupancy·n ≈ 126M rows at 2M vectors) twice — measured at
    * sf100/2M that shape DISK-KILLED after 25 min of pair-sort spill,
    * this one ran 112.8 s (sf10 warm 13.6 → 8.5 s, same-session A/B).
    * The only sort is the two 1·n sides of the cell join; the scored pairs
    * flow straight into topK's bounded aggregator and never shuffle as
    * rows.
    *
    * CACHE CONTRACT: `mvn` (assign ⋈ normalized vectors — n rows × ~65
    * columns) is cached because BOTH sides of the cell join read it; the
    * harness's `catalog.clearCache()` between queries releases it, NOT
    * this function — the returned frame is lazy, so there is no safe
    * point inside it to unpersist. An embedding user composing several
    * kNN calls in one session must call `spark.catalog.clearCache()`
    * between them, or the caches accumulate at n-rows-of-vectors each.
    */
  private def bucketTail(s: SparkSession, d: String, assigned: DataFrame,
      k: Int): DataFrame = {
    val mvn = assigned.join(normEmbeds(s, d), Seq("vec_id")).cache()
    topK(candidates(
      mvn.select(col("vec_id"), col("vn"),
        probedCells(col("bucket"), col("bucket2")).as("bucket")),
      mvn.where(col("bucket").isNotNull)
        .select(col("vec_id"), col("vn"), col("bucket"))), k)
  }

  /** The trained kNN graph behind every ladder query: the trained assign
    * at `occupancy` vectors per cell (64 — the registered default — or
    * 128), the bucket tail at probe 2 (or 1), then `rounds` NND rounds.
    * One round stays lazy; two or more checkpoint the base and every round
    * (each round references its base ~5×, and lazy composition past two
    * re-analyzes a plan that grows geometrically — the ckpt form measured
    * 2× faster warm at sf0.1 for two rounds, identical rows). All rounds
    * share one broadcast-path decision: `path` when the caller (a recall
    * gate) already owns it, else cosPath once here.
    */
  private def trainedGraph(s: SparkSession, d: String, occupancy: Long = 64,
      probe2: Boolean = true, rounds: Int = 0,
      path: Option[CosPath] = None): DataFrame = {
    val K = 3
    val assigned = trainedAssign(embeds(s, d), occupancy)
    val base = bucketTail(s, d, assigned.select(col("vec_id"), col("bucket"),
      if (probe2) col("bucket2") else lit(null).cast("long").as("bucket2")), K)
    if (rounds == 0) base
    else {
      val shared = Some(path.getOrElse(cosPath(s, d)))
      if (rounds == 1) nndRound(s, d, base, K, path = shared)
      else (1 to rounds).foldLeft(base.localCheckpoint()) { (g, _) =>
        nndRound(s, d, g, K, path = shared).localCheckpoint()
      }
    }
  }

  /** Where a query's pair cosines come from: the broadcast CosIndex when
    * the normalized table fits one broadcast, else the number of id-shards
    * shardedCosVerify splits it into.
    */
  private[graft] type CosPath =
    Either[Int, org.apache.spark.broadcast.Broadcast[org.apache.spark.sql.graft.CosIndex]]

  /** The broadcast-path decision for a whole query — count, ceiling and
    * index collect each run ONCE, and every NND round and gate truth of
    * the query takes the result (per-round probes were one job per round,
    * and a ladder gate collected the index twice, rounds + truth — r15/r16
    * opt rounds; the converge family is driver-job-bound).
    *
    * The ceiling is a byte budget, not a fixed row count (r13 ADVICE: a
    * 4M-row default shipped ~2 GB per broadcast at 0.5 KB/vector): vectors
    * per ~1 GiB broadcast from the actual dim, or `shardThreshold` when
    * positive. The sharded fallback costs ≤1.5-2× wall at 2M with peak
    * broadcast |table|/R (SCALE.md r14 nndshard), so engaging it early is
    * the safe side. An empty table yields no pairs, so it takes the
    * broadcast path trivially.
    */
  private[graft] def cosPath(s: SparkSession, d: String,
      shardThreshold: Long = -1L): CosPath = {
    val n = embeds(s, d).count()
    val ceiling =
      if (shardThreshold > 0) shardThreshold
      else {
        val dim = normEmbeds(s, d).select(size(col("vn"))).limit(1)
          .collect().headOption.map(_.getInt(0)).getOrElse(0)
        if (dim <= 0) Long.MaxValue
        else math.max(1L, (1L << 30) / (8L * dim + 48L))
      }
    if (n <= ceiling) Right(cosIndex(s, d))
    else Left(math.ceil(n.toDouble / ceiling).toInt)
  }

  /** One NN-Descent refinement round over an arbitrary scored kNN edge
    * frame (vec_id, …, nbr, cos): undirected B(v) ∪ R(v) edge set,
    * two-hop candidate expansion, exact cosine re-rank through topK.
    * Base edges arrive already scored and union in directly. Works over
    * any base (probe-1, probe-2, any occupancy) — the round composes with
    * the other recall levers and with itself (trainedGraph's `rounds`).
    *
    * SHAPE (r13 — the scale-safe third cut): the hop self-join runs on
    * the NARROW undirected edge set (two 16 B/row sort sides, ≈2K·n
    * rows), and candidates are scored against the broadcast CosIndex —
    * so no vector-laden frame ever reaches a sort. The r12 carry-vn shape
    * (vectors riding the edge-sized hop joins) sorted FOUR edge-sized
    * vector-laden SMJ sides, and its per-round wall constant jumped 12.9×
    * on 10× data at 2M vectors (~13 GB of sort spill — the memory cliff).
    * Candidate multiplicity (one copy per shared neighbour) dies in
    * topK's dedup-on-insert, so the pair relation is never distinct'd.
    *
    * The base frame is cached here (n·K rows; harness clearCache
    * releases — the bucketTail cache contract applies).
    *
    * `path`: the query's broadcast-path decision (cosPath); without one
    * the round decides for itself with `shardThreshold` as the ceiling.
    * Past the ceiling the scoring switches to shardedCosVerify over a
    * localCheckpoint'd candidate frame (the checkpoint bounds the R²
    * candidate re-scans) — output-identical (NndSpec forces the path and
    * pins row equality).
    */
  private[graft] def nndRound(s: SparkSession, d: String,
      baseEdges: DataFrame, k: Int,
      shardThreshold: Long = -1L,
      path: Option[CosPath] = None): DataFrame = {
    val base = baseEdges
      .select(col("vec_id"), col("nbr"), col("cos")).cache()
    val und = graft.ops.Graph.undirect(
      base.select(col("vec_id").as("v"), col("nbr").as("u")))
    // pairs sharing a neighbour u; symmetry of und makes this the same
    // candidate set as the two-hop path form (v—u—w), and the self-join
    // reads ONE reused exchange of the narrow edge frame
    val cand = und.as("a")
      .join(und.as("b"),
        col("a.u") === col("b.u") && col("a.v") =!= col("b.v"))
      .select(col("a.v").as("v1"), col("b.v").as("v2"))
    val hopScored = path.getOrElse(cosPath(s, d, shardThreshold)) match {
      case Right(bc) =>
        // r15: one CosBetween lookup per candidate against the broadcast
        // CosIndex — the SAME broadcast relation two vector-fetch hash
        // joins built, minus both joins and both per-pair array
        // attachments (candidates never widen past 16 B/row). The
        // isNotNull filter ≡ an inner join dropping ids absent from the
        // table (none arise — every id comes from edges over the table).
        cand
          .select(col("v1").as("vec_id"), col("v2").as("nbr"),
            org.apache.spark.sql.graft.GraftSql
              .cosBetween(col("v1"), col("v2"), bc).as("cos"))
          .where(col("cos").isNotNull)
      case Left(shards) =>
        shardedCosVerify(normEmbeds(s, d), cand.localCheckpoint(), shards)
          .select(col("v1").as("vec_id"), col("v2").as("nbr"), col("cos"))
    }
    topK(hopScored.union(base), k)
  }

  /** NN-Descent iterate-until-decay: apply `nndRound` until the round
    * adds NO new edges (the exact-fixpoint certificate) or `maxRounds`
    * is hit, and return the per-round convergence record — (round,
    * n_new, n_edges) for every round actually RUN. Production
    * NN-Descent's stopping rule is exactly this counter decaying;
    * componentsFixpoint (Dedup.scala) is the in-repo template.
    *
    * Plan discipline (trainedGraph's): every round's output is
    * localCheckpoint'd before the next composes over it, and the
    * per-round counts are driver actions off the checkpointed frame
    * (edge frames are n·K rows — K-bounded, never pair-sized). Callers
    * wanting the converged graph use trainedGraph's `rounds`.
    */
  private[graft] def nndConverge(s: SparkSession, d: String, k: Int,
      maxRounds: Int): DataFrame = {
    import s.implicits._
    var g = trainedGraph(s, d)
      .select(col("vec_id"), col("nbr"), col("cos")).localCheckpoint()
    val cert = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    var r = 1
    var newEdges = -1L
    val path = Some(cosPath(s, d)) // once per loop, not per round
    while (r <= maxRounds && newEdges != 0L) {
      val next = nndRound(s, d, g, k, path = path)
        .select(col("vec_id"), col("nbr"), col("cos")).localCheckpoint()
      // ONE counting job per round (r15 opt): n_new and n_edges from a
      // single left join + agg — the old left_anti count + count() pair
      // scanned `next` twice and ran two job sets per round on a query
      // whose wall is driver-job-bound. g is unique on (vec_id, nbr)
      // (top-k graph), so the left join multiplies no rows and
      // count(o IS NULL) ≡ the anti-join count exactly.
      val stats = next
        .join(g.select(col("vec_id"), col("nbr")).withColumn("o", lit(1)),
          Seq("vec_id", "nbr"), "left")
        .agg(count(when(col("o").isNull, 1)).as("n_new"),
          count(lit(1)).as("n_edges")).head()
      newEdges = stats.getLong(0)
      cert += ((r.toLong, newEdges, stats.getLong(1)))
      g = next
      r += 1
    }
    cert.toSeq.toDF("round", "n_new", "n_edges")
  }

  /** Driver-decoded broadcast image of the WHOLE normalized embedding
    * table — the brute-force-cosine index behind the truth sides of the
    * recall gates and q_dedup_embed_cosine (see CosIndex's scaladoc for
    * the plan-shape argument and the unchanged broadcast-scale domain).
    * One collect job; the collected vn doubles are the frame's own
    * values, so expression cosines are FP-identical to the relational
    * form's.
    */
  private[graft] def cosIndex(s: SparkSession, d: String)
      : org.apache.spark.broadcast.Broadcast[org.apache.spark.sql.graft.CosIndex] = {
    val rows = normEmbeds(s, d).select(col("vec_id"), col("vn")).collect()
    val ids = new Array[Long](rows.length)
    val vecs = new Array[Array[Double]](rows.length)
    var i = 0
    while (i < rows.length) {
      ids(i) = rows(i).getLong(0)
      vecs(i) = rows(i).getSeq[Double](1).toArray
      i += 1
    }
    s.sparkContext.broadcast(new org.apache.spark.sql.graft.CosIndex(ids, vecs))
  }

  /** Shared exact-recall gate behind every kNN ladder point: the
    * trainedGraph of the same parameters against the brute-force global
    * top-3, one row (n_true, n_found, n_hit, recall). Truth is ONE
    * map-only fold per vector over the broadcast CosIndex (r15
    * optimization): the prior BNL-join + TopKPairAgg form broadcast the
    * same table but materialized all n² joined pair rows (two 64-double
    * arrays each) and paid a groupBy exchange; CosTopK emits the
    * identical (cos DESC, id ASC) top-3 with 0 Joins and 0 Exchanges on
    * the truth side (CosIndexSpec pins row equality). A gate over NND
    * rounds makes the query's one broadcast-path decision and hands it to
    * both the rounds and the truth side (r16: one collect+broadcast per
    * gate instead of two). Past the ceiling the truth still builds its
    * own index — brute-force truth is broadcast-domain by contract
    * (SCALE.md recallsampled).
    */
  private def recallGate(s: SparkSession, d: String, occupancy: Long = 64,
      probe2: Boolean = true, rounds: Int = 0): DataFrame = {
    val path = if (rounds > 0) Some(cosPath(s, d)) else None
    val found = trainedGraph(s, d, occupancy, probe2, rounds, path)
      .select(col("vec_id"), col("nbr"))
    // spread: the n-per-row fold is the whole truth cost and the fixture
    // scan is one task (Core.spread doc) — parallelize it to the session.
    val idx = path.flatMap(_.toOption).getOrElse(cosIndex(s, d))
    val truth = Core.spread(normEmbeds(s, d))
      .select(col("vec_id"),
        explode(org.apache.spark.sql.graft.GraftSql
          .cosTopK(col("vn"), col("vec_id"), 3, idx)).as("p"))
      .select(col("vec_id"), col("p._2").as("nbr"))
    // ONE pass over each side (r15): the old three-branch form (count
    // truth, count found, semi-join count) planned the expensive found
    // graph lineage TWICE (count + semi-join sides share no exchange)
    // and the truth twice. Both edge sets are unique on (vec_id, nbr)
    // by their top-k constructions, so a full-outer join counts
    // n_true / n_found / n_hit exactly, with each lineage computed once
    // — shuffle ∝ the edge sets (n·k rows), never the corpus.
    truth.withColumn("t", lit(1))
      .join(found.withColumn("f", lit(1)), Seq("vec_id", "nbr"), "full_outer")
      .agg(count(col("t")).as("n_true"),
        count(col("f")).as("n_found"),
        count(when(col("t").isNotNull && col("f").isNotNull, 1)).as("n_hit"))
      .select(col("n_true"), col("n_found"), col("n_hit"),
        when(col("n_true") > 0,
          round(col("n_hit").cast("double") / col("n_true"), 4))
          .as("recall"))
  }

  val queries: Map[String, Q] = Map(
    // Embedding-cosine near-dup, brute force: all pairs >= threshold. The
    // O(n^2) ground truth the LSH variant must approximate — small-input /
    // verification path only; at scale use q_sim_ann_lsh. r15: the n²
    // loop folds into ONE map-only expression over the broadcast
    // CosIndex (same broadcast relation the old BNL join built, minus
    // the n² pair-row materialization and the filter pass) — 0 Joins,
    // 0 Exchanges; row set identical (CosIndexSpec).
    "q_dedup_embed_cosine" -> ((s, d) => {
      Core.spread(normEmbeds(s, d))
        .select(col("vec_id").as("v1"),
          explode(org.apache.spark.sql.graft.GraftSql.cosPairsAbove(
            col("vn"), col("vec_id"), NearDupThreshold, cosIndex(s, d))).as("p"))
        .select(col("v1"), col("p.v2").as("v2"), col("p.cos").as("cos"))
    }),

    // Sign-LSH near-dup: 16 hash-derived hyperplanes -> 16 sign bits ->
    // 4 bands x 4 bits; vectors sharing any band bucket become candidates;
    // exact cosine re-check on candidates only. The pair join touches
    // buckets, never n^2; candidate vectors are re-fetched by id, so the
    // band shuffle carries (id, band, bucket) rows only.
    //
    // MEASURED alternative (rejected): carrying the normalized vector
    // through the band explode to delete both re-fetch joins — Smoke ×3 at
    // sf0.1 showed 2.4 s warm vs 1.2 s for this form; the (Bands+1)×-wide
    // array shuffle plus the array-laden pair dedup costs more than two
    // broadcast-able id joins. At cluster scale the id re-fetch also keeps
    // the skew-prone bucket shuffle narrow, so the join form stays.
    "q_sim_ann_lsh" -> ((s, d) => {
      val e = embeds(s, d)
      // one compiled pass over the 16-plane matrix (r16 — the
      // scaledLshBanded SignBuckets change applied to the fixed config;
      // band = array position, SignBucketsSpec pins ≡ the literal form)
      val planeArr = Planes.map(_.map(_.toDouble).toArray).toArray
      val banded = e
        .select(col("vec_id"),
          org.apache.spark.sql.graft.GraftSql
            .signBuckets(col("v"), planeArr, NPlanes / Bands).as("bk"))
        .select(col("vec_id"), posexplode(col("bk")))
        .select(col("vec_id"), col("pos").as("band"), col("col").as("bucket"))
      val pairs = banded.as("x")
        .join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"))
        .distinct()
      val en = normEmbeds(s, d)
      pairs
        .join(en.select(col("vec_id").as("v1"), col("vn").as("a")), Seq("v1"))
        .join(en.select(col("vec_id").as("v2"), col("vn").as("b")), Seq("v2"))
        .select(col("v1"), col("v2"),
          round(Vectors.dotFast(col("a"), col("b")), 6).as("cos"))
        .where(col("cos") >= NearDupThreshold)
    }),

    // Scale-adaptive sign-LSH: the subquadratic production regime the fixed
    // 4×4 config can't reach. bits/band is computed from a cheap count
    // (parquet-footer n), so bucket count tracks n and the candidate set
    // stays ≈ bands·occupancy·n — LINEAR — where q_sim_ann_lsh's candidates
    // grow n²·bands/16 (the 58 s outlier at 10×, SCALE.md). Output is a
    // one-row summary (n_vec, bits_per_band, n_bands, n_cand, n_match):
    // the exact candidate count forces the oracle to reproduce the entire
    // adaptive banding bit-for-bit over every vector — a stronger gate
    // than the pair list, which at τ = 0.8 is empty on these fixtures
    // (max fixture cosine ≈ 0.51; ScaledLshSpec pins candidate quality).
    // The verify stage still computes exact cosine on every candidate, so
    // wall-clock measures the full candidate+verify pipeline.
    "q_sim_ann_lsh_scaled" -> ((s, d) => {
      val (pairs, n, bits, bands) = scaledLshCandidates(s, d)
      val en = normEmbeds(s, d)
      // past ~10⁷ vectors the whole-table broadcasts below exceed executor
      // memory — swap in shardedCosVerify(en, pairs, R), which caps peak
      // broadcast at |table|/R and is output-identical (ShardedVerifySpec)
      // BOTH vector fetches broadcast: at occupancy 16 the candidate set
      // is ≈ bands·8·n pairs, and a shuffle re-fetch would carry the
      // 64-double array through two pair-sized exchanges (~40 GB each at
      // 2M vectors — measured as a >60 GB disk-spill kill before the
      // bits fix). The normalized frame is ~0.5 KB/vector — executor-
      // memory-sized to ~10⁷ vectors, the FAISS replicated-index
      // analogue; past that shard the verify by vector range instead.
      pairs
        .join(broadcast(en.select(col("vec_id").as("v1"), col("vn").as("a"))),
          Seq("v1"))
        .join(broadcast(en.select(col("vec_id").as("v2"), col("vn").as("b"))),
          Seq("v2"))
        .select(round(Vectors.dotFast(col("a"), col("b")), 6).as("cos"))
        .agg(count(lit(1)).as("n_cand"),
          count(when(col("cos") >= ScaledThreshold, true)).as("n_match"))
        .select(lit(n).as("n_vec"), lit(bits.toLong).as("bits_per_band"),
          lit(bands.toLong).as("n_bands"), col("n_cand"), col("n_match"))
    }),

    // Dedup-first composition of the scale-adaptive LSH (the production
    // ordering for crawl-shaped corpora): collapse SIGNATURE FAMILIES —
    // vectors identical in every band — to one representative BEFORE the
    // candidate self-join, then fan rep-level decisions back to members.
    // Exact content duplicates are the cos=1 special case of a signature
    // family (identical vectors get identical sign bits), so this subsumes
    // "exact-dedup-first" — and it is the EXACT collapse for this operator:
    // the r10 Probe attributed 533.6 of 661.8 s at 2M vectors to
    // duplicate-family size² pockets inside candidate generation (every
    // family of size f pays f²·bands join rows and a f²-row distinct;
    // collapsed, it pays bands rows and ZERO distinct — intra-family pairs
    // are enumerated directly from the member map, no join, no dedup).
    // Candidate-set equality with q_sim_ann_lsh_scaled is exact: members
    // of one family collide in every band (intra pairs, all candidates);
    // a cross-family pair collides iff its reps collide (reps carry the
    // family's banding verbatim). DedupLshSpec pins the equality; the
    // one-row summary forces the oracle through the full composition —
    // banding, family collapse, rep join, fan-out, verify.
    "q_sim_ann_lsh_dedup" -> ((s, d) => {
      val (banded, n, bits, bands) = scaledLshBanded(embeds(s, d))
      // bk feeds BOTH the signature grouping and the rep-band join; the
      // n·bands frame is 3 narrow columns — cache beats re-running the
      // 96-plane dot pipeline per consumer (harness clearCache releases)
      val bk = banded.cache()
      // full-signature key: band-sorted (band, bucket) list. Only the
      // PARTITION induced by the key must agree cross-engine (grouping is
      // injective on the banding both sides), not the key bytes.
      val sig = bk.groupBy(col("vec_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("band"), col("bucket")))),
          t => concat_ws(":", t.getField("band"), t.getField("bucket"))), ",")
          .as("sigkey"))
      // member map (vec_id, rep, sz): one shuffle on sigkey; family
      // partitions are family-sized, so the window sort is pocket-local
      val w = Window.partitionBy(col("sigkey"))
      val member = sig
        .withColumn("rep", min(col("vec_id")).over(w))
        .withColumn("sz", count(lit(1)).over(w))
        .select(col("vec_id"), col("rep"), col("sz"))
        .cache()
      val nRep = member.where(col("vec_id") === col("rep")).count()
      // rep-level banding is bk filtered to reps — no second dot pass
      val rb = bk.join(
        member.where(col("vec_id") === col("rep")).select(col("vec_id")),
        Seq("vec_id"))
      val rpairs = rb.as("x")
        .join(rb.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("r1"), col("y.vec_id").as("r2"))
        .distinct()
      // fan back: cross-family pairs expand rep pairs through the member
      // map; intra-family pairs come straight off the map — no join with
      // the band table, no distinct (each unordered pair appears once)
      // pairs are ordered by REP (r1<r2), so the expanded members can come
      // out v1>v2 — canonicalize to v1<v2 so the frame matches the scaled
      // path's orientation row-for-row (not just as unordered pairs) and
      // stays safe to diff/reuse for row-level output
      val cross = rpairs
        .join(member.select(col("rep").as("r1"), col("vec_id").as("mv1")), Seq("r1"))
        .join(member.select(col("rep").as("r2"), col("vec_id").as("mv2")), Seq("r2"))
        .select(least(col("mv1"), col("mv2")).as("v1"),
          greatest(col("mv1"), col("mv2")).as("v2"))
      val intra = member.as("a")
        .join(member.as("b"),
          col("a.rep") === col("b.rep") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
      val en = normEmbeds(s, d)
      // verify unchanged from the scaled path (broadcast re-fetch; past
      // ~10⁷ vectors swap in shardedCosVerify — same caveat, same fix)
      cross.union(intra)
        .join(broadcast(en.select(col("vec_id").as("v1"), col("vn").as("a"))),
          Seq("v1"))
        .join(broadcast(en.select(col("vec_id").as("v2"), col("vn").as("b"))),
          Seq("v2"))
        .select(round(Vectors.dotFast(col("a"), col("b")), 6).as("cos"))
        .agg(count(lit(1)).as("n_cand"),
          count(when(col("cos") >= ScaledThreshold, true)).as("n_match"))
        .select(lit(n).as("n_vec"), lit(nRep).as("n_rep"),
          lit(bits.toLong).as("bits_per_band"), lit(bands.toLong).as("n_bands"),
          col("n_cand"), col("n_match"))
    }),

    // ANN recall gate: the quality loop on the LSH family. The LSH result
    // re-checks exact cosine on candidates, so q_sim_ann_lsh's output is a
    // SUBSET of q_dedup_embed_cosine's ground truth — recall is a count
    // ratio, measured here as one row (n_true, n_found, recall).
    // AnnRecallSpec pins recall >= MinLshRecall; at scale the same query
    // runs on a SAMPLE of the corpus (truth side is O(n^2)) while the
    // found side stays the production LSH path — the standard recall-audit
    // shape for an ANN index.
    "q_sim_ann_recall" -> ((s, d) => {
      val truth = queries("q_dedup_embed_cosine")(s, d)
        .agg(count(lit(1)).as("n_true"))
      val found = queries("q_sim_ann_lsh")(s, d)
        .agg(count(lit(1)).as("n_found"))
      truth.crossJoin(found)
        .select(col("n_true"), col("n_found"),
          when(col("n_true") > 0,
            round(col("n_found").cast("double") / col("n_true"), 4)).as("recall"))
    }),

    // kNN-graph construction via IVF bucketing: every vector's top-3
    // neighbours WITHIN its centroid bucket — the ANN workhorse (dedup
    // graphs, clustering seeds, retrieval eval) as one declarative plan.
    // Scale shape vs q_sim_ann_lsh: candidate pairs are n²/C for C
    // centroids and C GROWS with n (C ≈ n/target_occupancy — here 32 for
    // the fixture; a cluster deployment retunes C, not the plan), where
    // the LSH banding's bucket count was fixed by the signature width.
    // Output is O(n·k), linear by construction. The bucket tail carries
    // vn into the cell join and keeps each vector's top-3 in a bounded
    // aggregator over the bucket-pruned pair set (bucketTail doc).
    "q_sim_knn_graph" -> ((s, d) => {
      val K = 3
      val e = embeds(s, d)
      // bucket count derives from a cheap count (the decon_sized sizing
      // pattern): C = n/64 keeps candidate pairs ≈ 64·n — a FIXED C made
      // pairs n²/C and measured >10 min at 100× (the q_sim_ann_lsh
      // fixed-banding lesson, caught here in r8). The assign scan is
      // n·C ≈ n²/64 pure-codegen dots — fine to ~10⁶ vectors on a
      // cluster; past that a two-level (hierarchical k-means) assign
      // bounds it, same as FAISS's IVF training path.
      val C = math.max(32L, e.count() / 64).toInt
      bucketTail(s, d, bucketAssign(e, C).select(col("vec_id"),
        col("bucket"), lit(null).cast("long").as("bucket2")), K)
    }),

    // kNN graph with the TWO-LEVEL assign: same bucket-pruned top-3 tail,
    // but the assignment runs coarse-then-fine with a top-2 coarse probe
    // (bucketAssignTwoLevel) — n·(√C + 2C/√C) dots instead of the flat
    // n·C, the engine's answer to its last admitted scale ceiling (flat
    // assign past ~10⁶ vectors; measured at sf10: flat assign 27 s vs
    // two-level 5.7 s, and flat stays ~27 s at C=8× while two-level is
    // √C-flat — SCALE.md r9). n1 = max(4, ceil(√C)) is count-derived
    // like C itself (the decon_sized sizing pattern). The bucket is
    // defined by the two-level two-probe argmax, and the oracle
    // replicates it bit-for-bit — at sf0.01 (n=500, C=32, n1=6) the
    // hierarchy is genuinely exercised (≈5 fine cells per coarse), so
    // the green row proves the semantics cross-engine, not a degenerate
    // flat case.
    "q_sim_knn_graph_2l" -> ((s, d) => {
      val K = 3
      val e = embeds(s, d)
      val C = math.max(32L, e.count() / 64).toInt
      val n1 = math.max(4, math.ceil(math.sqrt(C.toDouble)).toInt)
      bucketTail(s, d, bucketAssignTwoLevel(e, C, n1).select(col("vec_id"),
        col("bucket"), lit(null).cast("long").as("bucket2")), K)
    }),

    // kNN graph with TRAINED centroids — the full IVF build path at
    // scale-C, closing the gap SCALE.md's r9 record names (prefix
    // stand-ins skew two-level buckets; FAISS trains k-means means on a
    // sample to rebalance): deterministic 1-in-16 hash sample → one
    // approximate-Lloyd round (trainCentroids, sample-sized) → two-level
    // assign of the FULL corpus against the trained means → the same
    // knn top-3 tail. Thresholds scale by the sample rate (the sample's
    // stand-in prefix must span ~C ids of a 1/16-density id set). Every
    // stage — sample membership, both two-level assigns, the rounded
    // means — is replicated in the oracle, so the green row pins the
    // entire train+assign pipeline cross-engine.
    "q_sim_knn_graph_trained" -> ((s, d) =>
      trainedGraph(s, d, probe2 = false)),

    // Probe-2 trained kNN graph: identical train+assign, but the search
    // tail scans BOTH probed cells per vector (bucketTail's nprobe=2) —
    // the recall lever the r10 verdict asked to A/B. The assignment (and
    // so the index side) is byte-identical to q_sim_knn_graph_trained;
    // only the probe side widens. Measured (SCALE.md r11): recall +36%
    // at sf0.01 / +45% at sf10; wall PARITY at sf10 and only +10% at 2M
    // vectors (95.5 vs 86.6 s — the tail is scan-bandwidth-bound, so the
    // predicted 2× pair-work penalty never materializes). RECOMMENDED
    // DEFAULT for embedding users; probe-1 stays as the A/B baseline.
    "q_sim_knn_graph_trained2" -> ((s, d) => trainedGraph(s, d)),

    // Recall gate for the probe-2 variant — same shape as
    // q_sim_knn_recall_trained so the two rows A/B directly.
    "q_sim_knn_recall_trained2" -> ((s, d) => recallGate(s, d)),

    // One NN-Descent refinement round (Dong et al., WWW'11) over the
    // probe-2 trained graph — the recall lever PAST nprobe: a vector's
    // true neighbours that straddle a cell boundary are often reachable
    // through a MUTUAL neighbour even when no probed cell contains them
    // directly. Candidates = the base edges plus every two-hop path in
    // the UNDIRECTED base graph (B(v) ∪ R(v) neighbourhoods — the
    // paper's local join), exact cosine re-rank, same top-3 contract.
    // Scale shape: degree in the undirected graph is ≤ 2K, so candidates
    // are ≤ (2K)²+K per vector — O(n·K²), LINEAR, no bucket term at all.
    // Three physical shapes measured (SCALE.md r12/r13): the naive form
    // (id-pair DISTINCT then two vector re-fetch joins) is SUPERLINEAR —
    // the second re-fetch SMJ sorts the pair frame wide (the r10 trap);
    // the r12 carry-vn form kept pairs out of sorts but sorted four
    // edge-sized VECTOR-LADEN SMJ sides (~13 GB spill at 2M — the memory
    // cliff). Shipped (r13): the hop join runs NARROW and both vectors
    // broadcast-fetch onto candidates — no sort ever sees a vector
    // column; scored pairs flow straight into topK's map-side combine
    // (multi-path duplicates die in the K-sized buffer; equal id ⇒ equal
    // cosine, the aggregator's guarded contract), so the pair relation is
    // never shuffled, sorted, or distinct'd either.
    // Same-session A/B at 2M: 126.7 vs 207.6 (carry-vn) vs 233.2 s
    // (naive). Base edges arrive already scored from the probe-2 tail.
    // Hits are MONOTONE over the base graph: cand ⊇ base, so a base edge
    // in the global top-3 can only be displaced by other global-top-3
    // members (NndSpec pins recall ≥ probe-2's). Rounds compose — the
    // fixpoint driver with the convergence certificate is
    // q_sim_knn_nnd_converge; one round is registered here.
    "q_sim_knn_graph_nnd" -> ((s, d) => trainedGraph(s, d, rounds = 1)),

    // TWO NND rounds — the composition claim under the oracle gate: the
    // round is a graph→graph operator, so iterating it is just function
    // application (production iterates until the new-edge count decays;
    // NN-Descent converges in a handful of rounds at K·log n cost). The
    // oracle replays round 2's expansion over round 1's top-3 CTE —
    // cross-engine proof that composition semantics, not just one
    // application, match. Rounds are checkpointed (trainedGraph doc): the
    // lazy nndRound(nndRound(...)) form re-analyzes a ~170-exchange plan
    // and re-derives shared subtrees — the ckpt form measured 2× faster
    // warm at sf0.1 (2.9 vs 5.7 s), identical rows.
    "q_sim_knn_graph_nnd2" -> ((s, d) => trainedGraph(s, d, rounds = 2)),

    // Recall gate for the two-round variant — fourth point on the exact
    // recall ladder (probe-1, probe-2, +1 round, +2 rounds). Rounds and
    // gate truth share one index (recallGate doc).
    "q_sim_knn_recall_nnd2" -> ((s, d) => recallGate(s, d, rounds = 2)),

    // Recall gate for the NND round — same shape as the trained/trained2
    // gates so the ladder rows A/B directly.
    "q_sim_knn_recall_nnd" -> ((s, d) => recallGate(s, d, rounds = 1)),

    // Graph-based beam search — the HNSW-style SERVING path over the kNN
    // graph the build/refine/store family produces (the third classic ANN
    // serving shape next to IVF probing and LSH buckets): hash-selected
    // seed nodes, then R greedy rounds of expand-frontier-by-graph-edges
    // → exact-score vs the query → keep the best B. The graph is the
    // probe-2 trained one (undirected — B(v) ∪ R(v), the NND convention);
    // the query vector is collected ONCE to literals (the r6 crossJoin
    // trap: derived columns after a 1-row broadcast cross join can hit
    // INTERNAL_ERROR when sibling branches share lineage — and a KMeans-
    // style driver literal is also the honest serving shape, the query
    // arrives from outside the cluster). Each round's frontier is B rows
    // — localCheckpoint keeps the R-round loop's plan linear. At 100 TB
    // the per-round work is B·2K edge lookups + B·2K dot products —
    // corpus-size-independent given the partitioned graph store
    // (KnnStore's read path); rounds, beam, and seeds are the
    // latency/recall knobs.
    "q_sim_graph_beam" -> ((s, d) => {
      import s.implicits._
      val B = 8
      val R = 3
      val en = normEmbeds(s, d)
      val nVec = embeds(s, d).count()
      val baseG = trainedGraph(s, d)
        .select(col("vec_id").as("v"), col("nbr").as("u")).localCheckpoint()
      val und = graft.ops.Graph.undirect(baseG).localCheckpoint()
      // r15: scoring via CosBetween against the broadcast CosIndex — the
      // old form re-joined the frontier against the embeddings table
      // EVERY round (a corpus-sized scan per round at scale); now each
      // round is a frontier-sized map, the inline-walk analogue of the
      // stored walk's point reads. Values identical (round6 of the same
      // ascending dot; the query vector IS vec 0's stored vn).
      val bc = cosIndex(s, d)
      def score(ids: DataFrame): DataFrame = ids
        .select(col("vec_id"),
          org.apache.spark.sql.graft.GraftSql
            .cosBetween(col("vec_id"), lit(0L), bc).as("cos"))
        .where(col("cos").isNotNull)
      // per-round top-B under (cos DESC, id ASC): orderBy+limit plans
      // TakeOrderedAndProject (bounded heaps) and the COLLECT returns the
      // rows in that order — the frontier is ≤ B = 8 rows, so it lives on
      // the driver between rounds (r16; the serving shape — the stored
      // walk already drives on collected ids). Each round is then ONE
      // driver job (the ordered collect) over an isin-literal edge filter
      // instead of a broadcast-join + localCheckpoint pair; the old shape
      // paid ~15 driver-scheduled jobs for 1.3 task-seconds of work.
      def topB(sc0: DataFrame, b: Int): Array[(Long, Double)] =
        sc0.orderBy(col("cos").desc, col("vec_id")).limit(b)
          .select(col("vec_id"), col("cos"))
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val every = math.max(1L, nVec / 8)
      val seeds = en
        .where(pmod(Core.md5Hash64(concat(lit("beam|"),
          col("vec_id").cast("string"))), lit(every)) === 0 &&
          col("vec_id") =!= 0)
        .select(col("vec_id"))
      var frontier = topB(score(seeds), B)
      (1 to R).foreach { _ =>
        val fIds = frontier.map(_._1)
        val expand = und.where(col("v").isin(fIds: _*))
          .select(col("u").as("vec_id"))
          .union(fIds.toSeq.toDF("vec_id"))
          .where(col("vec_id") =!= 0).distinct()
        frontier = topB(score(expand), B)
      }
      // final top-10 + rank: the frontier is already in (cos DESC, id ASC)
      // order from the bounded-heap collect; rank = position (≤ B ≤ 10
      // rows — same rows, same order as the old orderBy+limit+window)
      frontier.take(10).zipWithIndex
        .map { case ((id, c), i) => (i + 1L, id, c) }.toSeq
        .toDF("rank", "vec_id", "cos")
    }),

    // BATCH beam search — the Spark-first serving shape: the per-query
    // walk pays ~15 driver-scheduled jobs of fixed overhead (Probe
    // beamserve: ~2 s/query at 200k regardless of data size), so a batch
    // engine serves beams by walking ALL queries simultaneously —
    // frontier keyed by qid, per-round top-B via the BOUNDED TopKPairAgg
    // (map-side combine, no global window anywhere), one job set per
    // round for the whole query batch. Queries and seeds are
    // count-derived hash picks (the serving-load rule: the query set
    // scales with serving demand, never the corpus). Per-round work is
    // Q·B·2K edge lookups + dots — linear in the BATCH.
    "q_sim_graph_beam_batch" -> ((s, d) => {
      import s.implicits._
      val B = 8
      val R = 3
      val en = normEmbeds(s, d)
      val nVec = embeds(s, d).count()
      def h(salt: String) =
        Core.md5Hash64(concat(lit(salt), col("vec_id").cast("string")))
      val qs = en.where(pmod(h("bq|"), lit(math.max(1L, nVec / 5))) === 0)
        .select(col("vec_id").as("qid"), col("vn").as("qv"))
        .localCheckpoint()
      val baseG = trainedGraph(s, d)
        .select(col("vec_id").as("v"), col("nbr").as("u")).localCheckpoint()
      val und = graft.ops.Graph.undirect(baseG).localCheckpoint()
      // r15: per-round scoring is one CosBetween per (qid, candidate)
      // against the broadcast CosIndex — replaces a corpus-scan join plus
      // a broadcast query join PER ROUND with a frontier-sized map (both
      // the query vector and the candidate vector are stored rows).
      val bc = cosIndex(s, d)
      def score(ids: DataFrame): DataFrame = ids
        .select(col("qid"), col("vec_id"),
          org.apache.spark.sql.graft.GraftSql
            .cosBetween(col("vec_id"), col("qid"), bc).as("cos"))
        .where(col("cos").isNotNull)
      // per-round top-B through the DISTINCT variant (r15 opt): candidate
      // multiplicity (a node reachable from several frontier members, or
      // frontier ∪ expansion overlap) dies in the aggregator's
      // dedup-on-insert — cos is a deterministic function of (qid,
      // vec_id), the contract — so the per-round relational .distinct()
      // and its exchange disappear. Multiplicity is ≤ B per candidate and
      // scoring is one broadcast-index lookup, so re-scoring duplicates
      // is cheaper than shuffling them away.
      def topB(sc0: DataFrame, b: Int): DataFrame = sc0
        .groupBy(col("qid"))
        .agg(graft.functions.TopKPairDistinctAgg
          .topK(col("cos"), col("vec_id"), b).as("t"))
        .select(col("qid"), posexplode(col("t")))
        .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
          col("col._2").as("vec_id"), col("col._1").as("cos"))
      // r16: the frontier is Q·B rows — bounded by the SERVING batch,
      // never the corpus (the stored twin already collects the query
      // batch itself), so it lives on the driver between rounds as a
      // LocalRelation: each round is ONE collect job, the expansion join
      // broadcasts local rows with no exchange job, and the per-round
      // localCheckpoint barriers disappear (the walk was driver-job-
      // bound: 45 jobs / 1.4 task-seconds).
      def topBCollect(sc0: DataFrame, b: Int): Array[(Long, Long, Double)] =
        topB(sc0, b).select(col("qid"), col("vec_id"), col("cos"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val seeds = en.where(pmod(h("beam|"), lit(math.max(1L, nVec / 8))) === 0)
        .select(col("vec_id"))
      val seeded = qs.select(col("qid")).crossJoin(seeds)
        .where(col("vec_id") =!= col("qid"))
      var frontier = topBCollect(score(seeded), B)
      (1 to R).foreach { _ =>
        val f = frontier.toSeq.toDF("qid", "vec_id", "cos")
        val expand = f.select(col("qid"), col("vec_id").as("v"))
          .join(und, Seq("v")).select(col("qid"), col("u").as("vec_id"))
          .union(f.select(col("qid"), col("vec_id")))
          .where(col("vec_id") =!= col("qid"))
        frontier = topBCollect(score(expand), B)
      }
      topB(frontier.toSeq.toDF("qid", "vec_id", "cos")
        .select(col("qid"), col("vec_id"), col("cos")), 10)
    }),

    // Recall gate for the beam search: brute-force top-10 for the same
    // query vs the beam's 10 — the serving path's quality loop. The truth
    // side is orderBy + limit (TakeOrderedAndProject: per-partition
    // bounded heaps + a 10-row driver merge), NEVER a partition-less
    // window — a global row_number over the corpus-sized scored frame
    // sorts all n rows in one task (the r13 weak; the kNN family's
    // recallGate avoids the same trap with the bounded TopKPairAgg).
    // Identical rows: the (cos DESC, vec_id ASC) total order ties off
    // deterministically either way.
    "q_sim_graph_beam_recall" -> ((s, d) => {
      val en = normEmbeds(s, d)
      val qvArr = en.where(col("vec_id") === 0)
        .select(col("vn")).head().getSeq[Double](0)
      val qvCol = array(qvArr.map(lit): _*)
      val truth = en.where(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(Vectors.dotFast(col("vn"), qvCol), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10).select(col("vec_id"))
      val found = queries("q_sim_graph_beam")(s, d).select(col("vec_id"))
      // ONE pass over the truth lineage (r15 opt, the recallGate shape):
      // the old n_true × n_hit crossJoin planned the corpus-scanning
      // truth side twice (a count and a semi-join share no exchange).
      // found is unique on vec_id (a top-10 under a total order), so the
      // left join multiplies no rows and count(f) ≡ the semi-join count.
      truth.join(found.withColumn("f", lit(1)), Seq("vec_id"), "left")
        .agg(count(lit(1)).as("n_true"), count(col("f")).as("n_hit"))
        .select(col("n_true"), col("n_hit"),
          when(col("n_true") > 0,
            round(col("n_hit").cast("double") / col("n_true"), 4))
            .as("recall"))
    }),

    // The SAME walk served from the PERSISTED store (r13 verdict task
    // 3): builds the KnnStore at a scratch root (once per app — marker-
    // gated, so repeat runs in one JVM pay only the walk), then runs
    // KnnStore.beamSearch, whose every per-round read is partition-
    // pruned to the frontier's id shards / home cells — the vec_id-
    // bucketed adj layout closes the unpruned per-round scan the inline
    // form pays. Output ≡ q_sim_graph_beam (BeamSpec pins row equality;
    // the two share one oracle).
    "q_sim_graph_beam_stored" -> ((s, d) => {
      val root = ensureBeamStore(s, d)
      val e = embeds(s, d)
      val en = normEmbeds(s, d)
      val qvArr = en.where(col("vec_id") === 0)
        .select(col("vn")).head().getSeq[Double](0)
      val every = math.max(1L, e.count() / 8)
      val seeds = en
        .where(pmod(Core.md5Hash64(concat(lit("beam|"),
          col("vec_id").cast("string"))), lit(every)) === 0 &&
          col("vec_id") =!= 0)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      KnnStore.beamSearch(s, root, qvArr, 0L, 8, 3, seeds)
    }),

    // BATCH beam serving from the persisted store (r14 verdict task 3):
    // the stored twin of q_sim_graph_beam_batch. Where the inline batch
    // walk re-derives the whole trained2 graph per run, this walks the
    // marker-gated KnnStore with each round's adj/dir/member point reads
    // keyed by the UNION of all queries' frontiers — one readPart per
    // table per round for the whole batch, so the ~15-job per-query walk
    // overhead amortizes over the serving batch and read volume tracks
    // the union frontier, never the corpus (Probe beambatchstore).
    // Output ≡ q_sim_graph_beam_batch (BeamSpec pins row equality; the
    // two share one oracle).
    "q_sim_graph_beam_batch_stored" -> ((s, d) => {
      val root = ensureBeamStore(s, d)
      val en = normEmbeds(s, d)
      val nVec = embeds(s, d).count()
      def h(salt: String) =
        Core.md5Hash64(concat(lit(salt), col("vec_id").cast("string")))
      // same count-derived hash picks as the inline batch walk: the
      // query set scales with SERVING load, never the corpus
      val qs = en.where(pmod(h("bq|"), lit(math.max(1L, nVec / 5))) === 0)
        .select(col("vec_id"), col("vn"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      val seeds = en
        .where(pmod(h("beam|"), lit(math.max(1L, nVec / 8))) === 0)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      KnnStore.beamSearchBatch(s, root, qs, 8, 3, seeds)
    }),

    // NN-Descent iterate-until-decay (r12 verdict task 3): the fixpoint
    // driver over nndRound with the per-round new-edge count as the
    // convergence certificate — the output IS the certificate (round,
    // n_new, n_edges), so the oracle cross-checks the stopping rule
    // itself: DuckDB replays every round's expansion and emits a row
    // only while every earlier round added edges. Bounded at 3 rounds
    // (the oracle-able fixture configuration; production raises
    // maxRounds — each round is one checkpointed graph→graph step).
    "q_sim_knn_nnd_converge" -> ((s, d) => nndConverge(s, d, 3, 3)),

    // Fifth point on the exact recall ladder (probe-1, probe-2, +1, +2,
    // +3 rounds) — the round-3 graph under the same shared gate.
    "q_sim_knn_recall_nnd3" -> ((s, d) => recallGate(s, d, rounds = 3)),

    // The best MEASURED kNN configuration, registered under the oracle
    // gate (r12 verdict task 4): occupancy 128 + probe-2 + one NND
    // round — the r12 occupancy matrix showed occ=128 dominating the
    // occ=64 default on BOTH axes for the kNN family at both measured
    // scales, and the levers stack (+42% recall at +16% wall at 2M).
    // The shared default stays occ=64 because semdedup's pair stage
    // (Σ occ·n) doubles under occ=128; this query IS the kNN-family
    // default a user should reach for, with its own recall gate below.
    "q_sim_knn_graph_tuned" -> ((s, d) =>
      trainedGraph(s, d, occupancy = 128, rounds = 1)),

    // Recall gate for the tuned configuration — the ladder's measured
    // optimum under the same exact-truth gate as every other point.
    "q_sim_knn_recall_tuned" -> ((s, d) =>
      recallGate(s, d, occupancy = 128, rounds = 1)),

    // Batch twin of Streams.ivfRouteStream — the streaming-ANN ingest
    // router under the oracle gate: a 1-in-8 hash-sampled "arriving"
    // set routes against centroids trained on the full corpus (training
    // is corpus-owned; arrivals never retrain). Identical math to the
    // stream (same assignTwoLevelAgainst call), so the green row pins
    // the routing the stateless stream performs. Unroutable vectors
    // (null bucket — both probed cells empty) are the novel path and
    // excluded here exactly as the oracle's inner-join assign excludes
    // them.
    "q_stream_ivf_route" -> ((s, d) => {
      val e = embeds(s, d)
      val trained = trainedCentroidFrame(e, e.count()).cache()
      val arriving = e.where(pmod(Core.md5Hash64(
        concat(lit("rt|"), col("vec_id").cast("string"))), lit(8)) === 0)
      graft.streaming.Streams.ivfRouteStream(arriving, trained)
        .where(col("bucket").isNotNull)
        .select(col("vec_id"), col("bucket"), col("bucket2"))
    }),

    // Recall gate for the trained kNN graph (the quality loop every ANN
    // family member carries): truth = exact global top-3 per vector
    // (O(n²), fixture-priced — at scale this runs on a sample, the
    // q_sim_ann_recall convention); found = the trained pipeline's
    // edges; one row (n_true, n_found, n_hit, recall), rank arithmetic
    // only so the row is hash-exact.
    "q_sim_knn_recall_trained" -> ((s, d) =>
      recallGate(s, d, probe2 = false)),

    // Real IVF training: 2 deterministic Lloyd iterations (driver-held
    // centroids as broadcast literals, per-dimension mean via posexplode),
    // then the cluster profile of the final assignment. The full ANN build
    // path: fit -> assign -> per-bucket search (probe as in q_sim_ann_ivf).
    "q_sim_ann_kmeans" -> ((s, d) => {
      val e = embeds(s, d)
      val cents = graft.llm.KMeans.fit(e, NCentroids, updates = 2)
      // ‖v‖² materialized once behind its own select: the assignment argmin
      // reads it per centroid and the norm reuses it as sqrt(vv).
      e.select(col("v"), Vectors.dotFast(col("v"), col("v")).as("vv"))
        .select(graft.llm.KMeans.assignment(col("v"), col("vv"), cents).as("cid"),
          round(sqrt(col("vv")), 6).as("nrm"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"), round(sum(col("nrm")), 4).as("sum_nrm"))
    }),

    // IVF top-10: centroids = vec_id 0..7 (deterministic stand-ins for
    // k-means centers — the plumbing, assignment, and probe are the real
    // thing); every vector is assigned to its max-cosine centroid; the
    // query (vec_id=0) probes only its own bucket. Centroid list is a
    // broadcast; assignment is a narrow per-row argmax over 8 structs.
    "q_sim_ann_ivf" -> ((s, d) => {
      val e = embeds(s, d)
      val assigned = bucketAssign(e, NCentroids)
      val qv = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      assigned
        .where(col("vec_id") >= NCentroids && col("bucket") === 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), round(Vectors.cosine(col("v"), col("qv")), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(10)
        .withColumn("rn", row_number()
          .over(Window.orderBy(col("cos").desc, col("vec_id"))).cast("long"))
    }),

    // Multi-probe IVF (nprobe = 2): the query probes its TWO nearest
    // centroid buckets instead of one — the standard recall lever when the
    // true neighbours straddle a Voronoi boundary. Probes are a 2-row
    // broadcast; candidates stay bucket-pruned (2/NCentroids of the data),
    // re-ranked exactly. Recall is monotone in nprobe by construction.
    "q_sim_ann_ivf2" -> ((s, d) => {
      val e = embeds(s, d)
      val cents = e.where(col("vec_id") < NCentroids)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
        .groupBy().agg(collect_list(struct(col("cid"), col("cv"))).as("cents"))
      val assigned = bucketAssign(e, NCentroids)
      // the query's top-2 centroids (ties to the higher cid, matching the
      // assignment's array_max tie-break)
      val qv = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      val probes = qv.crossJoin(broadcast(cents))
        .select(col("qv"),
          explode(slice(reverse(array_sort(transform(col("cents"), c =>
            struct(round(Vectors.cosine(col("qv"), c.getField("cv")), 6).as("cos"),
              c.getField("cid").as("cid"))))), 1, 2)).as("p"))
        .select(col("p.cid").as("bucket"), col("qv"))
      assigned
        .where(col("vec_id") >= NCentroids)
        .join(broadcast(probes), Seq("bucket"))
        .select(col("vec_id"), round(Vectors.cosine(col("v"), col("qv")), 6).as("cos"))
        // top-10 re-rank over the probed buckets' candidates (a corpus
        // FRACTION, still ∝ n): orderBy+limit, never a partition-less
        // window — bucket pruning is only scale-safe if the re-rank is too
        .orderBy(col("cos").desc, col("vec_id")).limit(10)
        .withColumn("rn", row_number()
          .over(Window.orderBy(col("cos").desc, col("vec_id"))).cast("long"))
    }),

    // The ON-DISK IVF index: the same top-2-probe search as q_sim_ann_ivf2,
    // but the index is PERSISTED partitioned by bucket (one directory per
    // centroid) and the probe is answered by the STORAGE layout — the
    // broadcast probe join on the partition column lets dynamic partition
    // pruning skip every unprobed bucket directory at scan time
    // (IvfDiskSpec pins the executed-plan evidence). This is the missing
    // half of the IVF story: the in-memory variants prove the pruning
    // MATH; this proves a 100 TB index on object storage only READS
    // nprobe/NC of its bytes — build once, then every query's scan cost is
    // proportional to the probed buckets, exactly like a FAISS IndexIVF on
    // disk. Oracle shared with q_sim_ann_ivf2: the parquet roundtrip is
    // float-lossless, so results must be identical.
    "q_sim_ann_ivf_disk" -> ((s, d) => {
      val idxDir = Relational.scratchPath(s, d, "ivfidx")
      val e = embeds(s, d)
      bucketAssign(e, NCentroids)
        .where(col("vec_id") >= NCentroids)
        .select(col("bucket"), col("vec_id"), col("v"))
        .write.mode("overwrite").partitionBy("bucket").parquet(idxDir)
      val cents = e.where(col("vec_id") < NCentroids)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
        .groupBy().agg(collect_list(struct(col("cid"), col("cv"))).as("cents"))
      val qv = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      val probes = qv.crossJoin(broadcast(cents))
        .select(col("qv"),
          explode(slice(reverse(array_sort(transform(col("cents"), c =>
            struct(round(Vectors.cosine(col("qv"), c.getField("cv")), 6).as("cos"),
              c.getField("cid").as("cid"))))), 1, 2)).as("p"))
        .select(col("p.cid").as("bucket"), col("qv"))
      s.read.parquet(idxDir)
        .join(broadcast(probes.withColumn("bucket", col("bucket").cast("int"))),
          Seq("bucket"))
        .select(col("vec_id"), round(Vectors.cosine(col("v"), col("qv")), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(10)
        .withColumn("rn", row_number()
          .over(Window.orderBy(col("cos").desc, col("vec_id"))).cast("long"))
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    // cluster-then-pairwise — assign embeddings to clusters, compute
    // pairwise cosine ONLY within a cluster, drop every vector with a
    // lower-id neighbour ≥ threshold (deterministic keeper = min id per
    // ε-neighbourhood). Clustering makes the quadratic term Σ n_c²
    // instead of n²; at 100 TB cluster count grows ∝ n so buckets stay
    // executor-sized and the in-bucket self-join is the only pair work
    // (same tractability argument as the paper; same hash-sampled
    // TRAINED centroids as the trained kNN graph so DuckDB replays the
    // whole train+assign pipeline). Output: per-cluster members vs
    // survivors.
    "q_dedup_semdedup" -> ((s, d) => {
      val e = embeds(s, d)
      // unit-normalized vectors ride INTO the self-join (one codegen'd dot
      // per pair, q_dedup_embed_cosine's layout); the bucket equi-key keeps
      // the join a hash/SMJ on bucket — never a cross product. The frame
      // feeds three consumers (both self-join branches + the final agg),
      // so it's cached: (id, bucket, vn) per vector, not the corpus.
      // SemDeDup's contract is clusters ∝ n (Σ n_c² ≈ 64·n); a FIXED
      // cluster count made the in-bucket pair join n²/8 — same sizing
      // law as q_sim_knn_graph, C from a cheap count (r8 fix). The
      // assign is the TRAINED two-level pipeline (r10 fix): prefix
      // stand-in centroids collapse to copy-0 under ScaleUp ids and the
      // two-probe approximation then concentrated 2M vectors into 2000
      // buckets (Σsize² 8.6e9 vs uniform 1.3e8, Probe r10) — the pair
      // stage inherited ~66× the work and measured 482 s vs flat's
      // 255 s. Trained means follow the data distribution, so buckets
      // stay near target occupancy and Σ n_c² ≈ 64·n holds (the paper's
      // tractability argument needs BALANCED clusters, not just many).
      // bucket can be null when BOTH probed cells are empty; the
      // oracle's bucket CTE (rn=1 over cc2) drops such vectors, so drop
      // them here too instead of emitting a bucket=NULL group.
      val mvn = trainedAssign(e)
        .where(col("bucket").isNotNull)
        .select(col("vec_id"), col("bucket"))
        .join(normEmbeds(s, d), Seq("vec_id")).cache()
      val dropped = mvn.as("a").join(mvn.as("b"),
          col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .where(round(Vectors.dotFast(col("a.vn"), col("b.vn")), 6)
          >= NearDupThreshold)
        .select(col("b.vec_id").as("vec_id")).distinct()
      mvn.join(dropped.withColumn("dup", lit(1L)), Seq("vec_id"), "left")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_members"),
          count(when(col("dup").isNull, 1)).as("n_kept"))
    }),

    // Rademacher random projection 64 → 16 dims (Achlioptas-style ±1 JL
    // transform): the dimensionality-reduction step an embedding pipeline
    // runs before LSH/IVF to shrink index width 4×. The 16 sign vectors
    // are hash-derived constants shared with the oracle; each output
    // component rides the codegen'd graft_dot against a literal vector —
    // per-row narrow compute, no shuffle. Long output form (vec_id, j, y).
    // Rounding contract (advisor-reviewed, accepted): Spark sums in
    // graft_dot's fixed order, DuckDB in aggregation order — an ulp gap
    // landing exactly on a round(...,6) half-boundary could flip the 6th
    // decimal. Same trade-off as the cosine queries; if a fixture ever
    // trips it, coarsen to 4 dp on BOTH sides rather than reordering sums.
    // Product quantization (llm.Pq — Jégou TPAMI'11): codes + total
    // quantization error per vector. 64 floats → 8 nibble-codes (32×
    // compression); sample-assigned codebooks keep the oracle exact (swap
    // in Lloyd-trained ones at the cost of SQL expressibility).
    "q_embed_pq" -> ((s, d) => {
      val sub = graft.llm.Pq.subvectors(embeds(s, d))
      graft.llm.Pq.codes(
        graft.llm.Pq.assign(sub, graft.llm.Pq.codebook(sub)))
    }),

    // ADC top-20 for query vector 0: the query precomputes its 8×16
    // distance LUT (one narrow frame, broadcast), then every database
    // vector costs 8 lookups — the original floats are never touched
    // after encoding. The scale story FOR the 32× compressed corpus.
    "q_sim_pq_adc" -> ((s, d) => {
      val sub = graft.llm.Pq.subvectors(embeds(s, d))
      val cw = graft.llm.Pq.codebook(sub)
      val asg = graft.llm.Pq.assign(sub, cw)
      val lut = graft.llm.Pq.adcLut(sub.where(col("vec_id") === 0), cw)
      graft.llm.Pq.adcDistances(asg.where(col("vec_id") =!= 0), lut)
        .orderBy(col("adist"), col("vec_id"))
        .limit(20)
    }),

    // PQ recall gate — the quality loop on the compressed index, same
    // shape as q_sim_ann_recall: ADC top-20 vs exact-L2 top-20 for query
    // vector 0, one audit row. Uniform random embeddings are PQ's WORST
    // case (nothing for the codebooks to exploit) and the codebooks are
    // sample-assigned, so the measured recall (~0.25 at sf0.01) is the
    // honest floor of the 32x-compressed representation, not a tuned
    // showcase; PqSpec pins it >= 0.1. Truth reuses the exploded-element
    // group-sum form (the engine's established FP contract), never a
    // crossJoin against the shared-lineage scan.
    "q_sim_pq_recall" -> ((s, d) => {
      val sub = graft.llm.Pq.subvectors(embeds(s, d))
      val cw = graft.llm.Pq.codebook(sub)
      val asg = graft.llm.Pq.assign(sub, cw)
      val lut = graft.llm.Pq.adcLut(sub.where(col("vec_id") === 0), cw)
      val found = graft.llm.Pq.adcDistances(asg.where(col("vec_id") =!= 0), lut)
        .orderBy(col("adist"), col("vec_id")).limit(20).select("vec_id")
      val el = embeds(s, d)
        .select(col("vec_id"), posexplode(col("v"))).toDF("vec_id", "i", "x")
      val truth = el.where(col("vec_id") =!= 0)
        .join(el.where(col("vec_id") === 0)
          .select(col("i"), col("x").as("qx")), Seq("i"))
        .groupBy(col("vec_id"))
        .agg(round(sum((col("x") - col("qx")) * (col("x") - col("qx"))), 4)
          .as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(20).select("vec_id")
      truth.join(found, Seq("vec_id"))
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(20L).as("n_true"), col("n_hit"),
          round(col("n_hit") / 20.0, 4).as("recall"))
    }),

    // Two-stage retrieval (FAISS refine / IndexRefineFlat): the ADC pass
    // ranks the 32×-compressed codes down to a top-50 shortlist, then ONLY
    // those 50 vectors are re-scored against the original floats for the
    // exact top-10. This is how production ANN actually serves: the
    // compressed index bounds the corpus scan (M lookups/vector, floats
    // untouched), and the refine stage restores exact ordering at a cost
    // proportional to the SHORTLIST, not the corpus. Scale shape: the
    // shortlist id-list broadcasts back onto the float table, so the
    // re-rank join moves no fact rows; the only corpus-wide work is the
    // ADC pass itself. Quality: exact top-10 is recovered whenever the
    // true neighbours land anywhere in the ADC top-50 — a 5× oversample
    // buys back most of the recall the 32× compression gives up (the
    // q_sim_pq_recall gate measures the un-refined loss at k=20).
    "q_sim_pq_rerank" -> ((s, d) => {
      val e = embeds(s, d)
      val sub = graft.llm.Pq.subvectors(e)
      val cw = graft.llm.Pq.codebook(sub)
      val asg = graft.llm.Pq.assign(sub, cw)
      val lut = graft.llm.Pq.adcLut(sub.where(col("vec_id") === 0), cw)
      val short = graft.llm.Pq.adcDistances(asg.where(col("vec_id") =!= 0), lut)
        .orderBy(col("adist"), col("vec_id")).limit(50).select("vec_id")
      val el = e.select(col("vec_id"), posexplode(col("v"))).toDF("vec_id", "i", "x")
      el.join(broadcast(short), Seq("vec_id"))
        .join(el.where(col("vec_id") === 0)
          .select(col("i"), col("x").as("qx")), Seq("i"))
        .groupBy(col("vec_id"))
        .agg(round(sum((col("x") - col("qx")) * (col("x") - col("qx"))), 4)
          .as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    }),

    // IVF-PQ (FAISS IndexIVFPQ shape, no-residual variant): the coarse
    // quantizer prunes candidates to the query's nprobe=2 nearest centroid
    // buckets, then the 32×-compressed PQ codes rank ONLY those candidates
    // through the broadcast ADC LUT — after encoding, neither stage touches
    // the original floats. This is the composition that actually runs at
    // 100 TB: IVF cuts the scan to nprobe/NC of the corpus, PQ cuts the
    // per-candidate cost to M lookups and the stored bytes 32×. Scale
    // shape: centroids, probes, and LUT are all broadcast; the only
    // shuffles are the code regroup and the candidate equi-join on vec_id
    // (AQE takes it broadcast at fixture scale). Residual encoding (PQ on
    // v − centroid) swaps one select in; it costs the oracle nothing
    // structurally but is omitted to keep the codebook CTE shared with the
    // pq_adc family.
    "q_sim_ivfpq" -> ((s, d) => {
      val e = embeds(s, d)
      val assigned = bucketAssign(e, NCentroids)
      val cents = e.where(col("vec_id") < NCentroids)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
        .groupBy().agg(collect_list(struct(col("cid"), col("cv"))).as("cents"))
      val qv = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      val probes = qv.crossJoin(broadcast(cents))
        .select(explode(slice(reverse(array_sort(transform(col("cents"), c =>
          struct(round(Vectors.cosine(col("qv"), c.getField("cv")), 6).as("cos"),
            c.getField("cid").as("cid"))))), 1, 2)).as("p"))
        .select(col("p.cid").as("bucket"))
      val candidates = assigned
        .where(col("vec_id") >= NCentroids)
        .join(broadcast(probes), Seq("bucket"))
        .select(col("vec_id"))
      val sub = graft.llm.Pq.subvectors(e)
      val cw = graft.llm.Pq.codebook(sub)
      val asg = graft.llm.Pq.assign(sub, cw)
      val lut = graft.llm.Pq.adcLut(sub.where(col("vec_id") === 0), cw)
      graft.llm.Pq.adcDistances(asg.join(candidates, Seq("vec_id")), lut)
        .orderBy(col("adist"), col("vec_id"))
        .limit(20)
    }),

    // IVF-PQ recall gate — the quality loop on the COMPOUND index: the
    // ivfpq top-20 loses candidates two ways (coarse pruning drops true
    // neighbours outside the probed buckets; ADC misranks within them),
    // and this one audit row measures the combined effect against the
    // exact-L2 top-20 over the same eligible set (vec_id >= NCentroids,
    // the only ids the index can return — so the number isolates index
    // loss, not the centroid-exclusion artifact). Same shape as
    // q_sim_pq_recall; AnnRecallSpec pins the floor.
    "q_sim_ivfpq_recall" -> ((s, d) => {
      val e = embeds(s, d)
      val assigned = bucketAssign(e, NCentroids)
      val cents = e.where(col("vec_id") < NCentroids)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
        .groupBy().agg(collect_list(struct(col("cid"), col("cv"))).as("cents"))
      val qv = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      val probes = qv.crossJoin(broadcast(cents))
        .select(explode(slice(reverse(array_sort(transform(col("cents"), c =>
          struct(round(Vectors.cosine(col("qv"), c.getField("cv")), 6).as("cos"),
            c.getField("cid").as("cid"))))), 1, 2)).as("p"))
        .select(col("p.cid").as("bucket"))
      val candidates = assigned
        .where(col("vec_id") >= NCentroids)
        .join(broadcast(probes), Seq("bucket"))
        .select(col("vec_id"))
      val sub = graft.llm.Pq.subvectors(e)
      val cw = graft.llm.Pq.codebook(sub)
      val asg = graft.llm.Pq.assign(sub, cw)
      val lut = graft.llm.Pq.adcLut(sub.where(col("vec_id") === 0), cw)
      val found = graft.llm.Pq.adcDistances(asg.join(candidates, Seq("vec_id")), lut)
        .orderBy(col("adist"), col("vec_id")).limit(20).select("vec_id")
      val el = e.select(col("vec_id"), posexplode(col("v"))).toDF("vec_id", "i", "x")
      val truth = el.where(col("vec_id") >= NCentroids)
        .join(el.where(col("vec_id") === 0)
          .select(col("i"), col("x").as("qx")), Seq("i"))
        .groupBy(col("vec_id"))
        .agg(round(sum((col("x") - col("qx")) * (col("x") - col("qx"))), 4)
          .as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(20).select("vec_id")
      truth.join(found, Seq("vec_id"))
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(20L).as("n_true"), col("n_hit"),
          round(col("n_hit") / 20.0, 4).as("recall"))
    }),

    // Residual IVF-PQ — the actual FAISS IndexIVFPQ encoding: PQ runs on
    // the RESIDUAL r = v − centroid(bucket), not the raw vector. With a
    // TRAINED coarse quantizer residuals concentrate near zero (the
    // centroid explains the bucket's location), so the same 16-codeword
    // budget covers a smaller ball — that is why production IVFPQ encodes
    // residuals. NOTE the fixture regime is the opposite: the oracle's
    // deterministic stand-in centroids are just other random vectors, so
    // ‖v − c‖² ≈ 2‖v‖² and measured total qerr is HIGHER than raw PQ
    // (582 vs 379 at sf0.01) — this query pins the residual MACHINERY
    // (per-bucket residuals, per-probe LUTs) hash-exactly; swapping
    // KMeans.fit centroids in flips the error relation at the cost of the
    // SQL oracle. The price of residuals is bucket-dependent query prep:
    // each probed bucket needs its own query residual and ADC LUT, so the
    // LUT frame is (nprobe × M × K) rows — still a broadcast. Candidates
    // score against the LUT of THEIR bucket. Everything else keeps the
    // ivfpq scale shape: one candidate equi-join, everything small
    // broadcast.
    "q_sim_ivfpq_residual" -> ((s, d) => {
      val M = graft.llm.Pq.M; val SubDim = graft.llm.Pq.SubDim
      val e = embeds(s, d)
      val cents = e.where(col("vec_id") < NCentroids)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val assigned = bucketAssign(e, NCentroids)
      // residual frame: (vec_id, bucket, v := v − cv[bucket])
      val resid = assigned
        .join(broadcast(cents), col("bucket") === col("cid"))
        .select(col("vec_id"), col("bucket"),
          zip_with(col("v"), col("cv"), (a, b) => a - b).as("v"))
      val sub = graft.llm.Pq.subvectors(resid)
      val cw = graft.llm.Pq.codebook(sub)
      val asg = graft.llm.Pq.assign(sub, cw)
      // the query's nprobe=2 buckets, each carrying its own residual
      val centsArr = cents.groupBy()
        .agg(collect_list(struct(col("cid"), col("cv"))).as("cents"))
      val qv = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      val probes = qv.crossJoin(broadcast(centsArr))
        .select(col("qv"),
          explode(slice(reverse(array_sort(transform(col("cents"), c =>
            struct(round(Vectors.cosine(col("qv"), c.getField("cv")), 6).as("cos"),
              c.getField("cid").as("cid"))))), 1, 2)).as("p"))
        .select(col("p.cid").as("bucket"), col("qv"))
      // per-probe query residual subvectors: (bucket, j, sv)
      val qresSub = probes
        .join(broadcast(cents), col("bucket") === col("cid"))
        .select(col("bucket"),
          zip_with(col("qv"), col("cv"), (a, b) => a - b).as("r"))
        .select(col("bucket"), posexplode(expr(
          s"transform(sequence(0, ${M - 1}), j -> slice(r, j * $SubDim + 1, $SubDim))")))
        .toDF("bucket", "j", "sv")
      // per-bucket ADC LUT: (bucket, j, code, pd)
      val lut = qresSub.join(broadcast(cw), Seq("j"))
        .select(col("bucket"), col("j"), col("code"),
          expr("aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), 0D, (a, e) -> a + e)")
            .as("pd"))
      val candidates = assigned
        .where(col("vec_id") >= NCentroids)
        .join(broadcast(probes.select(col("bucket"))), Seq("bucket"))
        .select(col("vec_id"), col("bucket"))
      asg.select(col("vec_id"), col("j"), col("code"))
        .join(candidates, Seq("vec_id"))
        .join(broadcast(lut), Seq("bucket", "j", "code"))
        .groupBy(col("vec_id"))
        .agg(round(sum(col("pd")), 4).as("adist"))
        .orderBy(col("adist"), col("vec_id"))
        .limit(20)
    }),

    "q_embed_project" -> ((s, d) => {
      val outDim = 16
      val signs: Seq[Seq[Double]] = (0 until outDim).map(j =>
        (0 until Dim).map(i =>
          if (Vectors.md5Long(s"proj|$i|$j") % 2 == 0) 1.0 else -1.0))
      val ys = array(signs.map(sv =>
        round(Vectors.dotFast(col("v"), typedLit(sv)) / math.sqrt(outDim), 6)): _*)
      embeds(s, d)
        .select(col("vec_id"), ys.as("ys"))
        .select(col("vec_id"), posexplode(col("ys")).as(Seq("j", "y")))
        .select(col("vec_id"), col("j").cast("long").as("j"), col("y"))
    }),

    // Symmetric int8 quantization (absmax / 127): the storage/serving
    // compression step for embedding tables. Per-element arithmetic is
    // bit-identical across engines (same expression order, no
    // reassociation), so the integer checksum needs no rounding slack.
    // absmax-0 vectors quantize to all-zero (ANSI: the division is behind
    // the guard). Emits scale + integer checksums instead of the array
    // itself (driver compare can't sort array cells).
    "q_embed_quantize" -> ((s, d) => {
      val mx = array_max(transform(col("v"), x => abs(x)))
      val q = when(col("mx") > 0,
        transform(col("v"), x => round(x * 127.0 / col("mx")).cast("long")))
        .otherwise(transform(col("v"), _ => lit(0L)))
      embeds(s, d)
        .select(col("vec_id"), col("v"), mx.as("mx"))
        .select(col("vec_id"), col("mx"), q.as("q"))
        .select(
          col("vec_id"),
          round(col("mx") / 127.0, 6).as("scale"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("sum_q"),
          size(filter(col("q"), x => abs(x) === 127L)).cast("long").as("n_clip"),
          size(col("q")).cast("long").as("n_dims"))
    })
  )

  /** Unnested (vec_id, i, x) view of embeddings — DuckDB side. */
  private val eSql =
    """e AS MATERIALIZED (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings)""".stripMargin

  private def cosSql(a: String, b: String) =
    s"round(sum($a.x * $b.x) / (sqrt(sum($a.x * $a.x)) * sqrt(sum($b.x * $b.x))), 6)"

  /** Shared two-level-assign CTE block (prm/coarse/cc1/vc2/fcell/cc2/
    * bucket) — the SQL twin of bucketAssignTwoLevel over prefix stand-in
    * centroids with C = GREATEST(cFloor, n//64) and n1 = GREATEST(4,
    * ceil(sqrt(C))). cc1 scores n×n1 coarse pairs, vc2 keeps each
    * vector's TWO best coarse cells, cc2 scores only fine centroids
    * whose own first-choice cell is one of the two. Used by the
    * knn-graph and semdedup twins (any query whose cluster count grows
    * ∝ n — a flat argmax CTE there is the oracle replica of the n²/64
    * scan the Spark side no longer runs).
    */
  private def twoLevelBucketCtes(cFloor: Int): String =
    s"""prm AS (SELECT GREATEST($cFloor, count(*) // 64) AS nc,
       |  GREATEST(4, CAST(ceil(sqrt(GREATEST($cFloor, count(*) // 64))) AS BIGINT)) AS n1
       |  FROM embeddings),
       |coarse AS (SELECT vec_id AS cid, i, x FROM e
       |           WHERE vec_id < (SELECT n1 FROM prm)),
       |cc1 AS (
       |  SELECT e.vec_id, c.cid, ${cosSql("e", "c")} AS cos
       |  FROM e JOIN coarse c ON e.i = c.i GROUP BY 1, 2),
       |vc2 AS (
       |  SELECT vec_id, cid AS coarse, rn FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS rn
       |    FROM cc1) WHERE rn <= 2),
       |fcell AS (
       |  SELECT vec_id AS fid, coarse FROM vc2
       |  WHERE rn = 1 AND vec_id < (SELECT nc FROM prm)),
       |cc2 AS (
       |  SELECT e.vec_id, f.fid, ${cosSql("e", "c")} AS cos
       |  FROM e
       |  JOIN vc2 ON vc2.vec_id = e.vec_id
       |  JOIN fcell f ON f.coarse = vc2.coarse
       |  JOIN e c ON c.vec_id = f.fid AND c.i = e.i
       |  GROUP BY 1, 2),
       |bucket AS (
       |  SELECT vec_id, fid AS bucket FROM (
       |    SELECT vec_id, fid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, fid DESC) AS rn
       |    FROM cc2) WHERE rn = 1)""".stripMargin

  /** PQ subspace distances + nearest-code assignment (llm.Pq twin):
    * subspace j = (i-1)//8, codebook = vectors with id < K.
    */
  private val pqCtes =
    s"""dists AS (
       |  SELECT s.vec_id, s.j, c.code, sum((s.x - c.x) * (s.x - c.x)) AS dist
       |  FROM (SELECT vec_id, (i - 1) // ${graft.llm.Pq.SubDim} AS j,
       |               (i - 1) % ${graft.llm.Pq.SubDim} AS si, x FROM e) s
       |  JOIN (SELECT (i - 1) // ${graft.llm.Pq.SubDim} AS j, vec_id AS code,
       |               (i - 1) % ${graft.llm.Pq.SubDim} AS si, x
       |        FROM e WHERE vec_id < ${graft.llm.Pq.K}) c
       |    ON s.j = c.j AND s.si = c.si
       |  GROUP BY 1, 2, 3),
       |asg AS (
       |  SELECT vec_id, j, code, dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) AS rn
       |    FROM dists)
       |  WHERE rn = 1)""".stripMargin

  /** Top-2-probe IVF search (shared by q_sim_ann_ivf2 and its on-disk
    * partition-pruned twin q_sim_ann_ivf_disk — the parquet roundtrip is
    * float-lossless, so both must produce this exact frame).
    */
  private lazy val ivf2OracleSql: String =
    s"""WITH $eSql,
       |cent AS (SELECT vec_id AS cid, i, x FROM e WHERE vec_id < $NCentroids),
       |cc AS (
       |  SELECT e.vec_id, c.cid, ${cosSql("e", "c")} AS cos
       |  FROM e JOIN cent c ON e.i = c.i GROUP BY 1, 2),
       |bucket AS (
       |  SELECT vec_id, cid AS bucket FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS rn
       |    FROM cc) WHERE rn = 1),
       |probes AS (
       |  SELECT cid FROM (
       |    SELECT cid, row_number() OVER (ORDER BY cos DESC, cid DESC) AS rn
       |    FROM cc WHERE vec_id = 0) WHERE rn <= 2),
       |q AS (SELECT i, x FROM e WHERE vec_id = 0),
       |scored AS (
       |  SELECT e.vec_id, ${cosSql("e", "q")} AS cos
       |  FROM e JOIN q USING (i)
       |  JOIN bucket bk ON bk.vec_id = e.vec_id
       |  JOIN probes p ON p.cid = bk.bucket
       |  WHERE e.vec_id >= $NCentroids GROUP BY 1)
       |SELECT vec_id, cos, rn FROM (
       |  SELECT vec_id, cos,
       |    CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rn
       |  FROM scored) WHERE rn <= 10""".stripMargin

  /** Hyperplane components as a VALUES relation (p, i 1-based, h). */
  private val hpSql: String = {
    val rows = for {
      (plane, p) <- Planes.zipWithIndex
      (h, i) <- plane.zipWithIndex
    } yield s"($p,${i + 1},$h)"
    s"hp AS (SELECT * FROM (VALUES ${rows.mkString(",")}) v(p, i, h))"
  }

  /** Sign-LSH banding pipeline as shared CTEs (bits → band buckets →
    * candidate pairs) — the oracle twin of the q_sim_ann_lsh plan, reused
    * by the recall gate.
    */
  private val lshCtes: String =
    s"""$hpSql,
       |bits AS (
       |  SELECT vec_id, p, CASE WHEN sum(x * h) >= 0 THEN 1 ELSE 0 END AS b
       |  FROM e JOIN hp USING (i) GROUP BY vec_id, p),
       |bks AS (
       |  SELECT vec_id, p // ${NPlanes / Bands} AS band,
       |    sum(b * (1 << (${NPlanes / Bands - 1} - (p % ${NPlanes / Bands})))) AS bucket
       |  FROM bits GROUP BY vec_id, p // ${NPlanes / Bands}),
       |pairs AS (
       |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
       |  FROM bks x JOIN bks y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id)""".stripMargin

  /** The full 96-plane pool as a VALUES relation (p, i 1-based, h). */
  private val hpPoolSql: String = {
    val rows = for {
      (plane, p) <- AllPlanes.zipWithIndex
      (h, i) <- plane.zipWithIndex
    } yield s"($p,${i + 1},$h)"
    s"hp96 AS (SELECT * FROM (VALUES ${rows.mkString(",")}) v(p, i, h))"
  }

  /** Scale-adaptive banding as CTEs: bits/band from count(*) (the SQL twin
    * of scaledBits), banding restricted to the full bands that fit the
    * pool, candidate pairs via the adaptive buckets.
    */
  private val scaledLshCtes: String =
    s"""$hpPoolSql,
       |prm AS (
       |  SELECT GREATEST($ScaledMinBits, LEAST($ScaledMaxBits,
       |    CAST(ceil(log2(count(*) / $ScaledOccupancy.0)) AS BIGINT))) AS bits,
       |    CAST(count(*) AS BIGINT) AS n_vec
       |  FROM embeddings),
       |prm2 AS (
       |  SELECT n_vec, bits, $ScaledNPlanes // bits AS bands,
       |    ($ScaledNPlanes // bits) * bits AS used
       |  FROM prm),
       |sbits AS (
       |  SELECT vec_id, p, CASE WHEN sum(x * h) >= 0 THEN 1 ELSE 0 END AS b
       |  FROM e JOIN hp96 USING (i), prm2 WHERE p < used
       |  GROUP BY vec_id, p),
       |sbks AS (
       |  SELECT vec_id, p // bits AS band,
       |    sum(b * (1 << (bits - 1 - (p % bits)))) AS bucket
       |  FROM sbits, prm2 GROUP BY vec_id, p // bits),
       |spairs AS (
       |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
       |  FROM sbks x JOIN sbks y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id)""".stripMargin

  /** The trained-pipeline CTE chain (sample → stand-ins → sample assign
    * → rounded means → corpus assign → scored in-bucket pairs `sc`) —
    * shared by the q_sim_knn_graph_trained result and its recall gate.
    * `occ` is the SQL twin of trainedAssign's occupancy parameter
    * (C = max(32, n/occ)); the default 64 is the registered base
    * configuration, 128 the tuned kNN-family one (r12 occupancy matrix).
    */
  private def trainedKnnCtes(occ: Int = 64): String = {
    val sampH = LlmOps.sqlHash64("'samp|' || CAST(vec_id AS VARCHAR)")
    val centH = LlmOps.sqlHash64("'cent|' || CAST(vec_id AS VARCHAR)")
    val coarseCidH = LlmOps.sqlHash64("'coarse|' || CAST(cid AS VARCHAR)")
    s"""$eSql,
         |prm AS (SELECT
         |  GREATEST(1, count(*) // (16 * GREATEST(32, count(*) // $occ))) AS kf,
         |  GREATEST(1, GREATEST(32, count(*) // $occ)
         |    // GREATEST(4, CAST(ceil(sqrt(GREATEST(32, count(*) // $occ))) AS BIGINT)))
         |    AS kc
         |  FROM embeddings),
         |samp AS MATERIALIZED (SELECT vec_id, i, x FROM e WHERE $sampH % 16 = 0),
         |c0 AS MATERIALIZED (SELECT vec_id AS cid, i, x FROM samp
         |       WHERE $centH % (SELECT kf FROM prm) = 0),
         |co0 AS MATERIALIZED (SELECT cid, i, x FROM c0
         |        WHERE ${LlmOps.sqlHash64("'coarse|' || CAST(cid AS VARCHAR)")}
         |          % (SELECT kc FROM prm) = 0),
         |scc1 AS (
         |  SELECT s.vec_id, c.cid, ${cosSql("s", "c")} AS cos
         |  FROM samp s JOIN co0 c ON s.i = c.i GROUP BY 1, 2),
         |svc2 AS MATERIALIZED (
         |  SELECT vec_id, cid AS coarse FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS rn
         |    FROM scc1) WHERE rn <= 2),
         |fcc1 AS (
         |  SELECT f.cid AS fid, c.cid, ${cosSql("f", "c")} AS cos
         |  FROM c0 f JOIN co0 c ON f.i = c.i GROUP BY 1, 2),
         |ffc AS (
         |  SELECT fid, cid AS coarse FROM (
         |    SELECT fid, cid,
         |      row_number() OVER (PARTITION BY fid ORDER BY cos DESC, cid DESC) AS rn
         |    FROM fcc1) WHERE rn = 1),
         |scc2 AS MATERIALIZED (
         |  SELECT s.vec_id, f.fid, ${cosSql("s", "c")} AS cos
         |  FROM samp s
         |  JOIN svc2 ON svc2.vec_id = s.vec_id
         |  JOIN ffc f ON f.coarse = svc2.coarse
         |  JOIN c0 c ON c.cid = f.fid AND c.i = s.i
         |  GROUP BY 1, 2),
         |sbucket AS MATERIALIZED (
         |  SELECT vec_id, fid AS bucket FROM (
         |    SELECT vec_id, fid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, fid DESC) AS rn
         |    FROM scc2) WHERE rn = 1),
         |trained AS MATERIALIZED (
         |  SELECT b.bucket AS cid, s.i, round(avg(s.x), 6) AS x
         |  FROM sbucket b JOIN samp s ON s.vec_id = b.vec_id
         |  GROUP BY 1, 2),
         |tco AS MATERIALIZED (SELECT cid, i, x FROM trained
         |        WHERE $coarseCidH % (SELECT kc FROM prm) = 0),
         |cc1 AS (
         |  SELECT e.vec_id, c.cid, ${cosSql("e", "c")} AS cos
         |  FROM e JOIN tco c ON e.i = c.i GROUP BY 1, 2),
         |vc2 AS MATERIALIZED (
         |  SELECT vec_id, cid AS coarse FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS rn
         |    FROM cc1) WHERE rn <= 2),
         |tfcc AS (
         |  SELECT f.cid AS fid, c.cid, ${cosSql("f", "c")} AS cos
         |  FROM trained f JOIN tco c ON f.i = c.i GROUP BY 1, 2),
         |tffc AS MATERIALIZED (
         |  SELECT fid, cid AS coarse FROM (
         |    SELECT fid, cid,
         |      row_number() OVER (PARTITION BY fid ORDER BY cos DESC, cid DESC) AS rn
         |    FROM tfcc) WHERE rn = 1),
         |cc2 AS MATERIALIZED (
         |  SELECT e.vec_id, f.fid, ${cosSql("e", "c")} AS cos
         |  FROM e
         |  JOIN vc2 ON vc2.vec_id = e.vec_id
         |  JOIN tffc f ON f.coarse = vc2.coarse
         |  JOIN trained c ON c.cid = f.fid AND c.i = e.i
         |  GROUP BY 1, 2),
         |bucket AS MATERIALIZED (
         |  SELECT vec_id, fid AS bucket FROM (
         |    SELECT vec_id, fid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, fid DESC) AS rn
         |    FROM cc2) WHERE rn = 1),
         |prs AS (
         |  SELECT x.vec_id AS v1, y.vec_id AS v2
         |  FROM bucket x JOIN bucket y
         |    ON x.bucket = y.bucket AND x.vec_id != y.vec_id),
         |sc AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr, ${cosSql("a", "b")} AS cos
         |  FROM e a JOIN e b ON a.i = b.i
         |  JOIN prs p ON p.v1 = a.vec_id AND p.v2 = b.vec_id
         |  GROUP BY 1, 2)"""
      .stripMargin
  }

  /** Probe-2 extension of the trained-kNN CTE chain: per-vector winner of
    * the OTHER probed cell (b2 — the SQL twin of the assign's
    * least(m1, m2), null when either cell is empty), the widened probe
    * list, and the probe-2 scored pairs `sc2` (index side stays the
    * primary bucket, matching bucketTail).
    */
  private def trainedKnn2Ctes(occ: Int = 64): String =
    s"""${trainedKnnCtes(occ)},
       |wb AS (
       |  SELECT c.vec_id, c.fid, c.cos, f.coarse,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY c.cos DESC, c.fid DESC) AS rn
       |  FROM cc2 c JOIN tffc f ON f.fid = c.fid),
       |b2 AS (
       |  SELECT w.vec_id, w.fid AS bucket2 FROM wb w
       |  JOIN (SELECT vec_id, coarse AS wc FROM wb WHERE rn = 1) t
       |    ON t.vec_id = w.vec_id
       |  WHERE w.coarse <> t.wc
       |  QUALIFY row_number() OVER (PARTITION BY w.vec_id
       |    ORDER BY w.cos DESC, w.fid DESC) = 1),
       |prb AS (
       |  SELECT vec_id, bucket AS pb FROM bucket
       |  UNION ALL SELECT vec_id, bucket2 AS pb FROM b2),
       |prs2 AS (
       |  SELECT x.vec_id AS v1, y.vec_id AS v2
       |  FROM prb x JOIN bucket y ON x.pb = y.bucket AND x.vec_id != y.vec_id),
       |sc2 AS MATERIALIZED (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr, ${cosSql("a", "b")} AS cos
       |  FROM e a JOIN e b ON a.i = b.i
       |  JOIN prs2 p ON p.v1 = a.vec_id AND p.v2 = b.vec_id
       |  GROUP BY 1, 2)"""
      .stripMargin

  /** NN-Descent round over the probe-2 base graph (SQL twin of
    * q_sim_knn_graph_nnd): base = sc2's top-3 edges, und = the
    * undirected edge set, cand = base ∪ two-hop pairs, scn = exact
    * cosine on the deduped candidate relation. Appended after
    * `trainedKnn2Ctes` (needs sc2 and e).
    */
  private lazy val nndCtes: String =
    s"""base AS MATERIALIZED (
       |  SELECT vec_id, nbr FROM (
       |    SELECT vec_id, nbr,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rank
       |    FROM sc2) WHERE rank <= 3),
       |und AS MATERIALIZED (
       |  SELECT vec_id AS v, nbr AS u FROM base
       |  UNION SELECT nbr AS v, vec_id AS u FROM base),
       |cand AS MATERIALIZED (
       |  SELECT a.v AS vec_id, b.u AS nbr
       |  FROM und a JOIN und b ON a.u = b.v AND a.v != b.u
       |  UNION SELECT vec_id, nbr FROM base),
       |scn AS MATERIALIZED (
       |  SELECT c.vec_id, c.nbr, ${cosSql("a", "b")} AS cos
       |  FROM e a JOIN e b ON a.i = b.i
       |  JOIN cand c ON c.vec_id = a.vec_id AND c.nbr = b.vec_id
       |  GROUP BY 1, 2)"""
      .stripMargin

  /** Second NND round — the same expansion applied to round 1's top-3
    * (`scn` capped at rank 3 = base2). Appended after `nndCtes`.
    */
  private lazy val nnd2Ctes: String =
    s"""base2 AS MATERIALIZED (
       |  SELECT vec_id, nbr, cos FROM (
       |    SELECT vec_id, nbr, cos,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rank
       |    FROM scn) WHERE rank <= 3),
       |und2 AS MATERIALIZED (
       |  SELECT vec_id AS v, nbr AS u FROM base2
       |  UNION SELECT nbr AS v, vec_id AS u FROM base2),
       |cand2 AS MATERIALIZED (
       |  SELECT a.v AS vec_id, b.u AS nbr
       |  FROM und2 a JOIN und2 b ON a.u = b.v AND a.v != b.u
       |  UNION SELECT vec_id, nbr FROM base2),
       |scn2 AS MATERIALIZED (
       |  SELECT c.vec_id, c.nbr, ${cosSql("a", "b")} AS cos
       |  FROM e a JOIN e b ON a.i = b.i
       |  JOIN cand2 c ON c.vec_id = a.vec_id AND c.nbr = b.vec_id
       |  GROUP BY 1, 2)"""
      .stripMargin

  /** Third NND round — the same expansion applied to round 2's top-3
    * (`scn2` capped at rank 3 = base3). Appended after `nnd2Ctes`; feeds
    * the convergence-certificate and round-3 ladder oracles.
    */
  private lazy val nnd3Ctes: String =
    s"""base3 AS MATERIALIZED (
       |  SELECT vec_id, nbr, cos FROM (
       |    SELECT vec_id, nbr, cos,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rank
       |    FROM scn2) WHERE rank <= 3),
       |und3 AS MATERIALIZED (
       |  SELECT vec_id AS v, nbr AS u FROM base3
       |  UNION SELECT nbr AS v, vec_id AS u FROM base3),
       |cand3 AS MATERIALIZED (
       |  SELECT a.v AS vec_id, b.u AS nbr
       |  FROM und3 a JOIN und3 b ON a.u = b.v AND a.v != b.u
       |  UNION SELECT vec_id, nbr FROM base3),
       |scn3 AS MATERIALIZED (
       |  SELECT c.vec_id, c.nbr, ${cosSql("a", "b")} AS cos
       |  FROM e a JOIN e b ON a.i = b.i
       |  JOIN cand3 c ON c.vec_id = a.vec_id AND c.nbr = b.vec_id
       |  GROUP BY 1, 2)"""
      .stripMargin

  /** SQL twin of `recallGate`, parameterized on the CTE chain and the
    * scored CTE the found top-3 reads — the four ladder oracles share
    * this one block (r12 ADVICE factoring).
    */
  private def recallGateSql(ctes: String, foundFrom: String): String =
    s"""WITH $ctes,
       |found AS (
       |  SELECT vec_id, nbr FROM (
       |    SELECT vec_id, nbr,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rank
       |    FROM $foundFrom) WHERE rank <= 3),
       |tsc AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr, ${cosSql("a", "b")} AS cos
       |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id != b.vec_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT vec_id, nbr FROM (
       |    SELECT vec_id, nbr,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rank
       |    FROM tsc) WHERE rank <= 3),
       |hit AS (SELECT t.vec_id, t.nbr FROM truth t JOIN found f
       |        ON t.vec_id = f.vec_id AND t.nbr = f.nbr)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
       |  (SELECT CAST(count(*) AS BIGINT) FROM found) AS n_found,
       |  (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit,
       |  CASE WHEN (SELECT count(*) FROM truth) > 0
       |    THEN round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
       |      / (SELECT count(*) FROM truth), 4) END AS recall""".stripMargin

  /** Beam-search CTE chain (appended after trainedKnn2Ctes): undirected
    * probe-2 graph, every-vector query scores (same values the Spark
    * side computes for the ids it touches), hash seeds, then the three
    * expand→score→top-B rounds f0..f3.
    */
  private lazy val beamCtes: String = {
    val beamH = LlmOps.sqlHash64("'beam|' || CAST(vec_id AS VARCHAR)")
    def roundCte(prev: String, xn: String, fn: String) =
      s"""$xn AS (
         |  SELECT DISTINCT u AS vec_id FROM ub JOIN $prev ON ub.v = $prev.vec_id
         |  WHERE u != 0
         |  UNION SELECT vec_id FROM $prev),
         |$fn AS (SELECT vec_id, cos FROM (
         |  SELECT q.vec_id, q.cos,
         |    row_number() OVER (ORDER BY q.cos DESC, q.vec_id) AS rn
         |  FROM qsc q JOIN $xn ON $xn.vec_id = q.vec_id) WHERE rn <= 8)"""
    s"""bb AS MATERIALIZED (
       |  SELECT vec_id, nbr FROM (
       |    SELECT vec_id, nbr,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rank
       |    FROM sc2) WHERE rank <= 3),
       |ub AS MATERIALIZED (
       |  SELECT vec_id AS v, nbr AS u FROM bb
       |  UNION SELECT nbr AS v, vec_id AS u FROM bb),
       |qsc AS MATERIALIZED (
       |  SELECT b.vec_id, ${cosSql("b", "q")} AS cos
       |  FROM e b JOIN e q ON q.i = b.i AND q.vec_id = 0
       |  WHERE b.vec_id != 0 GROUP BY 1),
       |prmb AS (SELECT GREATEST(1, count(*) // 8) AS every FROM embeddings),
       |seeds AS (SELECT vec_id FROM embeddings
       |  WHERE $beamH % (SELECT every FROM prmb) = 0 AND vec_id != 0),
       |f0 AS (SELECT vec_id, cos FROM (
       |  SELECT q.vec_id, q.cos,
       |    row_number() OVER (ORDER BY q.cos DESC, q.vec_id) AS rn
       |  FROM qsc q JOIN seeds s ON s.vec_id = q.vec_id) WHERE rn <= 8),
       |${roundCte("f0", "x1", "f1")},
       |${roundCte("f1", "x2", "f2")},
       |${roundCte("f2", "x3", "f3")}"""
      .stripMargin
  }

  /** Batch beam CTE chain (appended after trainedKnn2Ctes): reuses bb/ub
    * from the single-query chain's definitions, per-(qid, vec_id) query
    * scores, shared hash seeds, three PARTITION-BY-qid rounds g0..g3.
    */
  private lazy val beamBatchCtes: String = {
    val beamH = LlmOps.sqlHash64("'beam|' || CAST(vec_id AS VARCHAR)")
    val bqH = LlmOps.sqlHash64("'bq|' || CAST(vec_id AS VARCHAR)")
    def roundCte(prev: String, yn: String, gn: String) =
      s"""$yn AS (
         |  SELECT DISTINCT g.qid, u.u AS vec_id
         |  FROM ub u JOIN $prev g ON u.v = g.vec_id WHERE u.u != g.qid
         |  UNION SELECT qid, vec_id FROM $prev),
         |$gn AS (SELECT qid, vec_id, cos FROM (
         |  SELECT c.qid, c.vec_id, c.cos,
         |    row_number() OVER (PARTITION BY c.qid
         |      ORDER BY c.cos DESC, c.vec_id) AS rn
         |  FROM qsc2 c JOIN $yn y ON y.qid = c.qid AND y.vec_id = c.vec_id)
         |  WHERE rn <= 8)"""
    s"""bb AS MATERIALIZED (
       |  SELECT vec_id, nbr FROM (
       |    SELECT vec_id, nbr,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rank
       |    FROM sc2) WHERE rank <= 3),
       |ub AS MATERIALIZED (
       |  SELECT vec_id AS v, nbr AS u FROM bb
       |  UNION SELECT nbr AS v, vec_id AS u FROM bb),
       |qset AS (SELECT vec_id AS qid FROM embeddings
       |  WHERE $bqH % (SELECT GREATEST(1, count(*) // 5) FROM embeddings) = 0),
       |qsc2 AS MATERIALIZED (
       |  SELECT q.vec_id AS qid, b.vec_id, ${cosSql("b", "q")} AS cos
       |  FROM e b JOIN e q ON q.i = b.i
       |  JOIN qset ON qset.qid = q.vec_id
       |  WHERE b.vec_id != q.vec_id
       |  GROUP BY 1, 2),
       |bseeds AS (SELECT vec_id FROM embeddings
       |  WHERE $beamH % (SELECT GREATEST(1, count(*) // 8) FROM embeddings) = 0),
       |g0 AS (SELECT qid, vec_id, cos FROM (
       |  SELECT c.qid, c.vec_id, c.cos,
       |    row_number() OVER (PARTITION BY c.qid
       |      ORDER BY c.cos DESC, c.vec_id) AS rn
       |  FROM qsc2 c JOIN bseeds s ON s.vec_id = c.vec_id) WHERE rn <= 8),
       |${roundCte("g0", "y1", "g1")},
       |${roundCte("g1", "y2", "g2")},
       |${roundCte("g2", "y3", "g3")}"""
      .stripMargin
  }

  /** Shared by q_sim_graph_beam and its store-backed twin — identical
    * output by BeamSpec's row-equality pin.
    */
  private lazy val beamSelectSql: String =
    s"""WITH ${trainedKnn2Ctes()},
       |$beamCtes
       |SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT)
       |  AS rank, vec_id, cos
       |FROM (SELECT vec_id, cos FROM (
       |  SELECT vec_id, cos,
       |    row_number() OVER (ORDER BY cos DESC, vec_id) AS rn
       |  FROM f3) WHERE rn <= 10)""".stripMargin

  private lazy val beamBatchSelectSql =
    s"""WITH ${trainedKnn2Ctes()},
       |$beamBatchCtes
       |SELECT qid, CAST(rn AS BIGINT) AS rank, vec_id, cos FROM (
       |  SELECT qid, vec_id, cos,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, vec_id) AS rn
       |  FROM g3) WHERE rn <= 10""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_sim_graph_beam_batch" -> beamBatchSelectSql,

    // the store-served batch walk is pinned row-identical to the inline
    // batch walk (BeamSpec), so it shares the oracle verbatim
    "q_sim_graph_beam_batch_stored" -> beamBatchSelectSql,

    "q_stream_ivf_route" ->
      s"""WITH ${trainedKnn2Ctes()}
         |SELECT b.vec_id, b.bucket, b2.bucket2
         |FROM bucket b LEFT JOIN b2 ON b2.vec_id = b.vec_id
         |WHERE ${LlmOps.sqlHash64("'rt|' || CAST(b.vec_id AS VARCHAR)")}
         |  % 8 = 0""".stripMargin,

    "q_sim_knn_graph_trained2" ->
      s"""WITH ${trainedKnn2Ctes()}
         |SELECT vec_id, rank, nbr, cos FROM (
         |  SELECT vec_id, nbr, cos,
         |    CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr)
         |      AS BIGINT) AS rank
         |  FROM sc2) WHERE rank <= 3""".stripMargin,

    "q_sim_knn_recall_trained2" -> recallGateSql(trainedKnn2Ctes(), "sc2"),

    "q_sim_knn_graph_nnd" ->
      s"""WITH ${trainedKnn2Ctes()},
         |$nndCtes
         |SELECT vec_id, rank, nbr, cos FROM (
         |  SELECT vec_id, nbr, cos,
         |    CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr)
         |      AS BIGINT) AS rank
         |  FROM scn) WHERE rank <= 3""".stripMargin,

    "q_sim_knn_recall_nnd" ->
      recallGateSql(s"${trainedKnn2Ctes()},\n$nndCtes", "scn"),

    "q_sim_knn_graph_nnd2" ->
      s"""WITH ${trainedKnn2Ctes()},
         |$nndCtes,
         |$nnd2Ctes
         |SELECT vec_id, rank, nbr, cos FROM (
         |  SELECT vec_id, nbr, cos,
         |    CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr)
         |      AS BIGINT) AS rank
         |  FROM scn2) WHERE rank <= 3""".stripMargin,

    "q_sim_knn_recall_nnd2" ->
      recallGateSql(s"${trainedKnn2Ctes()},\n$nndCtes,\n$nnd2Ctes", "scn2"),

    "q_sim_knn_recall_nnd3" ->
      recallGateSql(s"${trainedKnn2Ctes()},\n$nndCtes,\n$nnd2Ctes,\n$nnd3Ctes",
        "scn3"),

    "q_sim_graph_beam" -> beamSelectSql,

    // the store-backed walk is pinned row-identical to the inline one
    // (BeamSpec), so it shares the oracle verbatim
    "q_sim_graph_beam_stored" -> beamSelectSql,

    "q_sim_graph_beam_recall" ->
      s"""WITH ${trainedKnn2Ctes()},
         |$beamCtes,
         |found AS (SELECT vec_id FROM (
         |  SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rn
         |  FROM f3) WHERE rn <= 10),
         |btruth AS (SELECT vec_id FROM (
         |  SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rn
         |  FROM qsc) WHERE rn <= 10),
         |bhit AS (SELECT t.vec_id FROM btruth t JOIN found f
         |         ON f.vec_id = t.vec_id)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM btruth) AS n_true,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bhit) AS n_hit,
         |  CASE WHEN (SELECT count(*) FROM btruth) > 0
         |    THEN round(CAST((SELECT count(*) FROM bhit) AS DOUBLE)
         |      / (SELECT count(*) FROM btruth), 4) END AS recall""".stripMargin,

    // The convergence certificate: per-round new-edge counts with the
    // stop-on-zero rule replicated in the WHERE conditions — a round's
    // row exists only if every earlier round added edges, exactly the
    // driver loop's semantics.
    "q_sim_knn_nnd_converge" ->
      s"""WITH ${trainedKnn2Ctes()},
         |$nndCtes,
         |$nnd2Ctes,
         |$nnd3Ctes,
         |g0 AS (SELECT vec_id, nbr FROM base),
         |g1 AS MATERIALIZED (SELECT vec_id, nbr FROM base2),
         |g2 AS MATERIALIZED (SELECT vec_id, nbr FROM base3),
         |g3 AS MATERIALIZED (
         |  SELECT vec_id, nbr FROM (
         |    SELECT vec_id, nbr,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rank
         |    FROM scn3) WHERE rank <= 3),
         |n1 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM g1 x
         |       WHERE NOT EXISTS (SELECT 1 FROM g0 y
         |         WHERE y.vec_id = x.vec_id AND y.nbr = x.nbr)),
         |n2 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM g2 x
         |       WHERE NOT EXISTS (SELECT 1 FROM g1 y
         |         WHERE y.vec_id = x.vec_id AND y.nbr = x.nbr)),
         |n3 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM g3 x
         |       WHERE NOT EXISTS (SELECT 1 FROM g2 y
         |         WHERE y.vec_id = x.vec_id AND y.nbr = x.nbr))
         |SELECT CAST(1 AS BIGINT) AS round, (SELECT c FROM n1) AS n_new,
         |  (SELECT CAST(count(*) AS BIGINT) FROM g1) AS n_edges
         |FROM (VALUES (1)) v(one)
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), (SELECT c FROM n2),
         |  (SELECT CAST(count(*) AS BIGINT) FROM g2)
         |FROM (VALUES (1)) v(one) WHERE (SELECT c FROM n1) > 0
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), (SELECT c FROM n3),
         |  (SELECT CAST(count(*) AS BIGINT) FROM g3)
         |FROM (VALUES (1)) v(one)
         |WHERE (SELECT c FROM n1) > 0 AND (SELECT c FROM n2) > 0""".stripMargin,

    "q_sim_knn_graph_tuned" ->
      s"""WITH ${trainedKnn2Ctes(128)},
         |$nndCtes
         |SELECT vec_id, rank, nbr, cos FROM (
         |  SELECT vec_id, nbr, cos,
         |    CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr)
         |      AS BIGINT) AS rank
         |  FROM scn) WHERE rank <= 3""".stripMargin,

    "q_sim_knn_recall_tuned" ->
      recallGateSql(s"${trainedKnn2Ctes(128)},\n$nndCtes", "scn"),

    "q_sim_ann_lsh_scaled" ->
      s"""WITH $eSql,
         |$scaledLshCtes,
         |scored AS (
         |  SELECT p.v1, p.v2, ${cosSql("a", "b")} AS cos
         |  FROM e a JOIN e b ON a.i = b.i
         |  JOIN spairs p ON p.v1 = a.vec_id AND p.v2 = b.vec_id
         |  GROUP BY 1, 2)
         |SELECT (SELECT n_vec FROM prm2) AS n_vec,
         |  (SELECT bits FROM prm2) AS bits_per_band,
         |  (SELECT bands FROM prm2) AS n_bands,
         |  CAST(count(*) AS BIGINT) AS n_cand,
         |  CAST(count(*) FILTER (cos >= $ScaledThreshold) AS BIGINT) AS n_match
         |FROM scored""".stripMargin,

    "q_sim_ann_lsh_dedup" ->
      s"""WITH $eSql,
         |$scaledLshCtes,
         |sig AS (
         |  SELECT vec_id,
         |    string_agg(band || ':' || bucket, ',' ORDER BY band) AS sigkey
         |  FROM sbks GROUP BY vec_id),
         |mem AS (
         |  SELECT vec_id,
         |    min(vec_id) OVER (PARTITION BY sigkey) AS rep,
         |    count(*) OVER (PARTITION BY sigkey) AS sz
         |  FROM sig),
         |rb AS (
         |  SELECT b.vec_id, b.band, b.bucket
         |  FROM sbks b JOIN (SELECT DISTINCT rep FROM mem) r
         |    ON b.vec_id = r.rep),
         |rp AS (
         |  SELECT DISTINCT x.vec_id AS r1, y.vec_id AS r2
         |  FROM rb x JOIN rb y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
         |crossp AS (
         |  SELECT m1.vec_id AS v1, m2.vec_id AS v2
         |  FROM rp JOIN mem m1 ON m1.rep = rp.r1 JOIN mem m2 ON m2.rep = rp.r2),
         |intrap AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2
         |  FROM mem a JOIN mem b ON a.rep = b.rep AND a.vec_id < b.vec_id),
         |allp AS (SELECT v1, v2 FROM crossp UNION ALL SELECT v1, v2 FROM intrap),
         |dscored AS (
         |  SELECT p.v1, p.v2, ${cosSql("a", "b")} AS cos
         |  FROM e a JOIN e b ON a.i = b.i
         |  JOIN allp p ON p.v1 = a.vec_id AND p.v2 = b.vec_id
         |  GROUP BY 1, 2)
         |SELECT (SELECT n_vec FROM prm2) AS n_vec,
         |  (SELECT CAST(count(DISTINCT rep) AS BIGINT) FROM mem) AS n_rep,
         |  (SELECT bits FROM prm2) AS bits_per_band,
         |  (SELECT bands FROM prm2) AS n_bands,
         |  CAST(count(*) AS BIGINT) AS n_cand,
         |  CAST(count(*) FILTER (cos >= $ScaledThreshold) AS BIGINT) AS n_match
         |FROM dscored""".stripMargin,

    "q_dedup_embed_cosine" ->
      s"""WITH $eSql
         |SELECT a.vec_id AS v1, b.vec_id AS v2, ${cosSql("a", "b")} AS cos
         |FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
         |GROUP BY 1, 2
         |HAVING ${cosSql("a", "b")} >= $NearDupThreshold""".stripMargin,

    "q_sim_ann_lsh" ->
      s"""WITH $eSql,
         |$lshCtes
         |SELECT a.vec_id AS v1, b.vec_id AS v2, ${cosSql("a", "b")} AS cos
         |FROM e a JOIN e b ON a.i = b.i
         |JOIN pairs p ON p.v1 = a.vec_id AND p.v2 = b.vec_id
         |GROUP BY 1, 2
         |HAVING ${cosSql("a", "b")} >= $NearDupThreshold""".stripMargin,

    "q_sim_ann_recall" ->
      s"""WITH $eSql,
         |$lshCtes,
         |truth AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2
         |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
         |  GROUP BY 1, 2
         |  HAVING ${cosSql("a", "b")} >= $NearDupThreshold),
         |found AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2
         |  FROM e a JOIN e b ON a.i = b.i
         |  JOIN pairs p ON p.v1 = a.vec_id AND p.v2 = b.vec_id
         |  GROUP BY 1, 2
         |  HAVING ${cosSql("a", "b")} >= $NearDupThreshold)
         |SELECT t.n AS n_true, f.n AS n_found,
         |  CASE WHEN t.n > 0 THEN round(CAST(f.n AS DOUBLE) / t.n, 4) END AS recall
         |FROM (SELECT count(*) AS n FROM truth) t
         |CROSS JOIN (SELECT count(*) AS n FROM found) f""".stripMargin,

    "q_sim_knn_graph" ->
      s"""WITH $eSql,
         |cent AS (SELECT vec_id AS cid, i, x FROM e
         |         WHERE vec_id < (SELECT GREATEST(32, count(*) // 64)
         |                         FROM embeddings)),
         |cc AS (
         |  SELECT e.vec_id, c.cid, ${cosSql("e", "c")} AS cos
         |  FROM e JOIN cent c ON e.i = c.i GROUP BY 1, 2),
         |bucket AS (
         |  SELECT vec_id, cid AS bucket FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS rn
         |    FROM cc) WHERE rn = 1),
         |prs AS (
         |  SELECT x.vec_id AS v1, y.vec_id AS v2
         |  FROM bucket x JOIN bucket y
         |    ON x.bucket = y.bucket AND x.vec_id != y.vec_id),
         |sc AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr, ${cosSql("a", "b")} AS cos
         |  FROM e a JOIN e b ON a.i = b.i
         |  JOIN prs p ON p.v1 = a.vec_id AND p.v2 = b.vec_id
         |  GROUP BY 1, 2)
         |SELECT vec_id, rank, nbr, cos FROM (
         |  SELECT vec_id, nbr, cos,
         |    CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr)
         |      AS BIGINT) AS rank
         |  FROM sc) WHERE rank <= 3""".stripMargin,

    // Two-level assign twin: same CTE skeleton as q_sim_knn_graph but the
    // bucket comes from coarse-then-fine argmax with a top-2 coarse probe
    // — cc1 scores n×n1 coarse pairs, vc2 keeps each vector's TWO best
    // coarse cells (rn ≤ 2), and cc2 scores each vector only against
    // fine centroids whose own (first-choice) cell is one of the two.
    // n1 = GREATEST(4, ceil(sqrt(C))): IEEE sqrt of an exact integer is
    // correctly rounded in both engines, so the derived sizes agree
    // exactly.
    "q_sim_knn_graph_2l" ->
      s"""WITH $eSql,
         |${twoLevelBucketCtes(32)},
         |prs AS (
         |  SELECT x.vec_id AS v1, y.vec_id AS v2
         |  FROM bucket x JOIN bucket y
         |    ON x.bucket = y.bucket AND x.vec_id != y.vec_id),
         |sc AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr, ${cosSql("a", "b")} AS cos
         |  FROM e a JOIN e b ON a.i = b.i
         |  JOIN prs p ON p.v1 = a.vec_id AND p.v2 = b.vec_id
         |  GROUP BY 1, 2)
         |SELECT vec_id, rank, nbr, cos FROM (
         |  SELECT vec_id, nbr, cos,
         |    CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr)
         |      AS BIGINT) AS rank
         |  FROM sc) WHERE rank <= 3""".stripMargin,

    // Trained-centroid twin: the whole pipeline re-derived — hash sample,
    // two-level assign of the sample against the hash-selected stand-ins,
    // rounded per-bucket/dim means, then the two-level assign of the
    // corpus against those means, then the knn tail.
    "q_sim_knn_graph_trained" ->
      s"""WITH ${trainedKnnCtes()}
         |SELECT vec_id, rank, nbr, cos FROM (
         |  SELECT vec_id, nbr, cos,
         |    CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr)
         |      AS BIGINT) AS rank
         |  FROM sc) WHERE rank <= 3""".stripMargin,

    // Recall gate for the trained kNN graph: truth = the exact global
    // top-3 per vector (O(n²) ground truth, fixture-priced); found = the
    // trained pipeline's edges; recall = overlap ratio. Rank arithmetic
    // only — hash-exact.
    "q_sim_knn_recall_trained" -> recallGateSql(trainedKnnCtes(), "sc"),

    "q_sim_ann_kmeans" -> {
      def dStep(cIn: String, dOut: String, aOut: String) =
        s"""$dOut AS (
           |  SELECT e.vec_id, c.cid, round(sum((e.x - c.cx) * (e.x - c.cx)), 9) AS dd
           |  FROM e JOIN $cIn c ON c.i = e.i GROUP BY 1, 2),
           |$aOut AS (
           |  SELECT vec_id, cid FROM (
           |    SELECT vec_id, cid,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
           |    FROM $dOut) WHERE rn = 1)""".stripMargin
      def cStep(aIn: String, cOut: String) =
        s"""$cOut AS (
           |  SELECT a.cid, e.i, round(avg(e.x), 6) AS cx
           |  FROM $aIn a JOIN e ON e.vec_id = a.vec_id GROUP BY 1, 2)""".stripMargin
      s"""WITH $eSql,
         |c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, i, x AS cx
         |       FROM e WHERE vec_id < $NCentroids),
         |${dStep("c0", "d1", "a1")},
         |${cStep("a1", "c1")},
         |${dStep("c1", "d2", "a2")},
         |${cStep("a2", "c2")},
         |${dStep("c2", "d3", "a3")},
         |nrm AS (SELECT vec_id, round(sqrt(sum(x * x)), 6) AS nrm FROM e GROUP BY 1)
         |SELECT a3.cid, count(*) AS n_members, round(sum(nrm.nrm), 4) AS sum_nrm
         |FROM a3 JOIN nrm ON nrm.vec_id = a3.vec_id
         |GROUP BY 1""".stripMargin
    },

    "q_sim_ann_ivf" ->
      s"""WITH $eSql,
         |cent AS (SELECT vec_id AS cid, i, x FROM e WHERE vec_id < $NCentroids),
         |cc AS (
         |  SELECT e.vec_id, c.cid, ${cosSql("e", "c")} AS cos
         |  FROM e JOIN cent c ON e.i = c.i GROUP BY 1, 2),
         |bucket AS (
         |  SELECT vec_id, cid AS bucket FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS rn
         |    FROM cc) WHERE rn = 1),
         |q AS (SELECT i, x FROM e WHERE vec_id = 0),
         |scored AS (
         |  SELECT e.vec_id, ${cosSql("e", "q")} AS cos
         |  FROM e JOIN q USING (i)
         |  JOIN bucket bk ON bk.vec_id = e.vec_id AND bk.bucket = 0
         |  WHERE e.vec_id >= $NCentroids GROUP BY 1)
         |SELECT vec_id, cos, rn FROM (
         |  SELECT vec_id, cos,
         |    CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rn
         |  FROM scored) WHERE rn <= 10""".stripMargin,

    // Trained-assign twin (r10): shares the full trained CTE chain with
    // the kNN-graph twin — sample, stand-ins, Lloyd round, corpus assign,
    // and the scored in-bucket pairs `sc` — so the green row pins the
    // entire train+assign+dedup pipeline cross-engine. `sc` holds both
    // pair directions; the keeper rule reads only the v1 < v2 half.
    "q_dedup_semdedup" ->
      s"""WITH ${trainedKnnCtes()},
         |dropped AS (
         |  SELECT DISTINCT nbr AS vec_id FROM sc
         |  WHERE vec_id < nbr AND cos >= $NearDupThreshold)
         |SELECT b.bucket, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(count(CASE WHEN d.vec_id IS NULL THEN 1 END) AS BIGINT)
         |    AS n_kept
         |FROM bucket b LEFT JOIN dropped d USING (vec_id)
         |GROUP BY 1""".stripMargin,

    "q_sim_ann_ivf2" -> ivf2OracleSql,

    // identical search over the persisted partitioned index — the parquet
    // roundtrip is float-lossless, so the in-memory oracle is shared.
    "q_sim_ann_ivf_disk" -> ivf2OracleSql,

    // Sign weights derive from the same md5 the Spark side embeds as
    // literals (first 15 hex chars — Vectors.md5Long ≡ sqlHash64).
    "q_embed_pq" ->
      s"""WITH $eSql,
         |$pqCtes
         |SELECT vec_id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY j) AS codes,
         |  round(sum(dist), 4) AS qerr
         |FROM asg GROUP BY vec_id""".stripMargin,

    "q_sim_pq_adc" ->
      s"""WITH $eSql,
         |$pqCtes,
         |lut AS (SELECT j, code, dist AS pd FROM dists WHERE vec_id = 0)
         |SELECT a.vec_id AS vec_id, round(sum(l.pd), 4) AS adist
         |FROM asg a JOIN lut l ON a.j = l.j AND a.code = l.code
         |WHERE a.vec_id <> 0
         |GROUP BY 1 ORDER BY 2, 1 LIMIT 20""".stripMargin,

    "q_sim_pq_recall" ->
      s"""WITH $eSql,
         |$pqCtes,
         |lut AS (SELECT j, code, dist AS pd FROM dists WHERE vec_id = 0),
         |found AS (
         |  SELECT a.vec_id FROM asg a JOIN lut l ON a.j = l.j AND a.code = l.code
         |  WHERE a.vec_id <> 0
         |  GROUP BY a.vec_id ORDER BY round(sum(l.pd), 4), a.vec_id LIMIT 20),
         |truth AS (
         |  SELECT b.vec_id FROM e q JOIN e b ON q.i = b.i AND q.vec_id = 0 AND b.vec_id <> 0
         |  GROUP BY b.vec_id
         |  ORDER BY round(sum((q.x - b.x) * (q.x - b.x)), 4), b.vec_id LIMIT 20)
         |SELECT CAST(20 AS BIGINT) AS n_true, count(*) AS n_hit,
         |  round(count(*) / 20.0, 4) AS recall
         |FROM truth JOIN found USING (vec_id)""".stripMargin,

    "q_sim_pq_rerank" ->
      s"""WITH $eSql,
         |$pqCtes,
         |lut AS (SELECT j, code, dist AS pd FROM dists WHERE vec_id = 0),
         |short AS (
         |  SELECT a.vec_id FROM asg a JOIN lut l ON a.j = l.j AND a.code = l.code
         |  WHERE a.vec_id <> 0
         |  GROUP BY a.vec_id ORDER BY round(sum(l.pd), 4), a.vec_id LIMIT 50)
         |SELECT b.vec_id AS vec_id,
         |  round(sum((q.x - b.x) * (q.x - b.x)), 4) AS dist
         |FROM e q JOIN e b ON q.i = b.i AND q.vec_id = 0
         |JOIN short s ON s.vec_id = b.vec_id
         |GROUP BY 1 ORDER BY 2, 1 LIMIT 10""".stripMargin,

    "q_sim_ivfpq" ->
      s"""WITH $eSql,
         |cent AS (SELECT vec_id AS cid, i, x FROM e WHERE vec_id < $NCentroids),
         |cc AS (
         |  SELECT e.vec_id, c.cid, ${cosSql("e", "c")} AS cos
         |  FROM e JOIN cent c ON e.i = c.i GROUP BY 1, 2),
         |bucket AS (
         |  SELECT vec_id, cid AS bucket FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS rn
         |    FROM cc) WHERE rn = 1),
         |probes AS (
         |  SELECT cid FROM (
         |    SELECT cid, row_number() OVER (ORDER BY cos DESC, cid DESC) AS rn
         |    FROM cc WHERE vec_id = 0) WHERE rn <= 2),
         |$pqCtes,
         |lut AS (SELECT j, code, dist AS pd FROM dists WHERE vec_id = 0)
         |SELECT a.vec_id AS vec_id, round(sum(l.pd), 4) AS adist
         |FROM asg a
         |JOIN bucket bk ON bk.vec_id = a.vec_id
         |JOIN probes p ON p.cid = bk.bucket
         |JOIN lut l ON a.j = l.j AND a.code = l.code
         |WHERE a.vec_id >= $NCentroids
         |GROUP BY 1 ORDER BY 2, 1 LIMIT 20""".stripMargin,

    "q_sim_ivfpq_recall" ->
      s"""WITH $eSql,
         |cent AS (SELECT vec_id AS cid, i, x FROM e WHERE vec_id < $NCentroids),
         |cc AS (
         |  SELECT e.vec_id, c.cid, ${cosSql("e", "c")} AS cos
         |  FROM e JOIN cent c ON e.i = c.i GROUP BY 1, 2),
         |bucket AS (
         |  SELECT vec_id, cid AS bucket FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS rn
         |    FROM cc) WHERE rn = 1),
         |probes AS (
         |  SELECT cid FROM (
         |    SELECT cid, row_number() OVER (ORDER BY cos DESC, cid DESC) AS rn
         |    FROM cc WHERE vec_id = 0) WHERE rn <= 2),
         |$pqCtes,
         |lut AS (SELECT j, code, dist AS pd FROM dists WHERE vec_id = 0),
         |found AS (
         |  SELECT a.vec_id FROM asg a
         |  JOIN bucket bk ON bk.vec_id = a.vec_id
         |  JOIN probes p ON p.cid = bk.bucket
         |  JOIN lut l ON a.j = l.j AND a.code = l.code
         |  WHERE a.vec_id >= $NCentroids
         |  GROUP BY a.vec_id ORDER BY round(sum(l.pd), 4), a.vec_id LIMIT 20),
         |truth AS (
         |  SELECT b.vec_id FROM e q JOIN e b
         |    ON q.i = b.i AND q.vec_id = 0 AND b.vec_id >= $NCentroids
         |  GROUP BY b.vec_id
         |  ORDER BY round(sum((q.x - b.x) * (q.x - b.x)), 4), b.vec_id LIMIT 20)
         |SELECT CAST(20 AS BIGINT) AS n_true, count(*) AS n_hit,
         |  round(count(*) / 20.0, 4) AS recall
         |FROM truth JOIN found USING (vec_id)""".stripMargin,

    "q_sim_ivfpq_residual" -> {
      val SubDim = graft.llm.Pq.SubDim
      val K = graft.llm.Pq.K
      s"""WITH $eSql,
         |cent AS (SELECT vec_id AS cid, i, x FROM e WHERE vec_id < $NCentroids),
         |cc AS (
         |  SELECT e.vec_id, c.cid, ${cosSql("e", "c")} AS cos
         |  FROM e JOIN cent c ON e.i = c.i GROUP BY 1, 2),
         |bucket AS (
         |  SELECT vec_id, cid AS bucket FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS rn
         |    FROM cc) WHERE rn = 1),
         |probes AS (
         |  SELECT cid FROM (
         |    SELECT cid, row_number() OVER (ORDER BY cos DESC, cid DESC) AS rn
         |    FROM cc WHERE vec_id = 0) WHERE rn <= 2),
         |er AS (
         |  SELECT e.vec_id, e.i, e.x - ce.x AS x
         |  FROM e JOIN bucket bk ON bk.vec_id = e.vec_id
         |  JOIN e ce ON ce.vec_id = bk.bucket AND ce.i = e.i),
         |rdists AS (
         |  SELECT s.vec_id, s.j, c.code, sum((s.x - c.x) * (s.x - c.x)) AS dist
         |  FROM (SELECT vec_id, (i - 1) // $SubDim AS j,
         |               (i - 1) % $SubDim AS si, x FROM er) s
         |  JOIN (SELECT (i - 1) // $SubDim AS j, vec_id AS code,
         |               (i - 1) % $SubDim AS si, x FROM er WHERE vec_id < $K) c
         |    ON s.j = c.j AND s.si = c.si
         |  GROUP BY 1, 2, 3),
         |rasg AS (
         |  SELECT vec_id, j, code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) AS rn
         |    FROM rdists) WHERE rn = 1),
         |qres AS (
         |  SELECT p.cid AS bucket, q.i, q.x - ce.x AS x
         |  FROM e q JOIN probes p ON TRUE
         |  JOIN e ce ON ce.vec_id = p.cid AND ce.i = q.i
         |  WHERE q.vec_id = 0),
         |lut AS (
         |  SELECT s.bucket, s.j, c.code, sum((s.x - c.x) * (s.x - c.x)) AS pd
         |  FROM (SELECT bucket, (i - 1) // $SubDim AS j,
         |               (i - 1) % $SubDim AS si, x FROM qres) s
         |  JOIN (SELECT (i - 1) // $SubDim AS j, vec_id AS code,
         |               (i - 1) % $SubDim AS si, x FROM er WHERE vec_id < $K) c
         |    ON s.j = c.j AND s.si = c.si
         |  GROUP BY 1, 2, 3)
         |SELECT a.vec_id AS vec_id, round(sum(l.pd), 4) AS adist
         |FROM rasg a
         |JOIN bucket bk ON bk.vec_id = a.vec_id
         |JOIN probes p ON p.cid = bk.bucket
         |JOIN lut l ON l.bucket = bk.bucket AND a.j = l.j AND a.code = l.code
         |WHERE a.vec_id >= $NCentroids
         |GROUP BY 1 ORDER BY 2, 1 LIMIT 20""".stripMargin
    },

    "q_embed_project" ->
      s"""WITH $eSql,
         |w AS (
         |  SELECT j, i + 1 AS i,
         |    CASE WHEN CAST('0x' || substr(md5('proj|' || i || '|' || j), 1, 15)
         |        AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END AS s
         |  FROM (SELECT unnest(range(0, $Dim)) AS i)
         |  CROSS JOIN (SELECT unnest(range(0, 16)) AS j))
         |SELECT vec_id, j, round(sum(x * s) / sqrt(16.0), 6) AS y
         |FROM e JOIN w USING (i) GROUP BY vec_id, j""".stripMargin,

    "q_embed_quantize" ->
      s"""WITH $eSql,
         |m AS (SELECT vec_id, max(abs(x)) AS mx FROM e GROUP BY vec_id)
         |SELECT vec_id, round(mx / 127.0, 6) AS scale,
         |  CAST(sum(CASE WHEN mx > 0
         |    THEN CAST(round(x * 127.0 / mx) AS BIGINT) ELSE 0 END)
         |    AS BIGINT) AS sum_q,
         |  CAST(sum(CASE WHEN mx > 0
         |    AND abs(CAST(round(x * 127.0 / mx) AS BIGINT)) = 127
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clip,
         |  count(*) AS n_dims
         |FROM e JOIN m USING (vec_id) GROUP BY vec_id, mx""".stripMargin
  )
}
