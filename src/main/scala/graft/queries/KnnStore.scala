package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.Vectors

/** The kNN graph's 100 TB storage story (r12 verdict task 6): the trained
  * probe-2 graph persisted PARTITIONED BY CELL, plus exact incremental
  * maintenance for arrival batches that touches only the cells an arrival
  * probes — the graph-side twin of the on-disk IVF index
  * (q_sim_ann_ivf_disk), extended from "read only probed partitions" to
  * "UPDATE only probed partitions".
  *
  * Layout under `root` (all parquet, partitioned):
  *  - `members`  (bucket=partition): (vec_id, vn, bucket2) — each vector
  *    once, under its PRIMARY cell. Serves candidate fetches: a searcher
  *    (or arrival) scans the primary members of its probed cells.
  *  - `postings` (pcell=partition): (vec_id, vn, home) — each vector
  *    listed under EVERY cell it probes (≤2 rows/vector; `home` = its
  *    primary cell). Serves the reverse question an arrival raises: which
  *    existing vectors PROBE the cell this arrival just landed in (those
  *    gain the arrival as a candidate). The duplication is the classic
  *    posting-list trade — 2× vector storage for partition-pruned reverse
  *    lookups.
  *  - `graph`    (bucket=partition, = owner's home): (vec_id, rank, nbr,
  *    cos) — the top-K edges.
  *  - `dir`      (shard=partition, shard = hash(vec_id) % S, S per-store from _meta.json):
  *    (vec_id, home, bucket2) — the ID DIRECTORY. members/postings/graph
  *    are all partitioned by CONTENT-derived cells, so an id-only
  *    question (does this id exist? where does it live?) would scan the
  *    store; the directory answers it from the id's own shard — the
  *    secondary-index discipline every 100 TB table needs. Rows are
  *    sorted by vec_id within each shard so parquet row-group stats
  *    prune literal id probes below partition granularity. Serves the
  *    arrival-batch disjointness guard and id-only removal.
  *  - `adj`      (shard=partition, shard = hash(v) % S): (v, u,
  *    owner) — the UNDIRECTED adjacency view, id-sharded: for every
  *    graph edge (x → y) two rows, (x, y, owner=x) and (y, x, owner=x).
  *    The graph table answers "x's top-K" from x's home partition, but a
  *    beam walk needs B(v) ∪ R(v) — the REVERSE edges of a frontier node
  *    live in its holders' homes, i.e. everywhere. This is the
  *    vec_id-bucketed edge layout SCALE.md's beamserve row named: a
  *    frontier's full neighbourhood reads only the frontier ids' shards
  *    (v-sorted within shards for row-group skipping). `owner` keys
  *    incremental maintenance: a member whose top-K changes owns exactly
  *    its two rows per edge, so a rewrite drops owner ∈ changed and
  *    re-inserts the new lists — duplicate (v, u) pairs under two owners
  *    are deliberate (each direction independently maintained; readers
  *    dedup the beam-sized fetch).
  *
  * INCREMENTAL CONTRACT (KnnStoreSpec pins it as a theorem): after
  * `build(base)` + `addArrivals(batch)`, all five tables are
  * row-identical to `build(base ∪ batch)` against the same centroid
  * frame; `removeVectors(ids)` and `upsert(batch)` carry the same
  * exactness (remove ≡ build without the victims — including DELETING
  * partitions the removal empties; upsert = remove ∘ add). This is exact, not approximate: the probe-2 candidate relation
  * {(x, m) : m primary in a cell x probes} decomposes disjointly into
  * base×base (already folded into the stored top-K), arrival×(base∪batch)
  * (computed here from the probed cells' members), and base×arrival (the
  * postings reverse lookup) — and bounded top-K is mergeable
  * (top-K(A ∪ B) = top-K(top-K(A) ∪ B)), so folding the new cross edges
  * into the stored K-sized lists loses nothing. Centroids deliberately do
  * NOT retrain on arrivals (the streaming-ANN contract shared with
  * Streams.ingestScreenPipeline: training is corpus-owned).
  *
  * DRIFT CONTRACT (what N batches of DISTRIBUTION-SHIFTED arrivals do,
  * and when to rebuild — the degenerate-batch rule below covers batch
  * SIZE; this covers batch SHAPE): because centroids never retrain,
  * drifted arrivals park in the few cells nearest the new mode and
  * occupancy balance decays monotonically — exactness is never at risk
  * (every theorem here is distribution-free), only the occupancy-bound
  * COSTS: maintenance compute ∝ batch · occ(touched cells), a serving
  * fetch ∝ the probed cells' sizes, and any bucketed pair work ∝
  * Σsize². `occupancyAudit` is the meter (one members pass); run it
  * after arrival batches. Measured drift curve (Probe knndrift, 200k,
  * arrivals pulled 2 units toward one direction): growing the corpus
  * 8% with drifted arrivals took Σsize² to 2.2× and max_cell to 10×
  * their build-time values (352 → 3,494 — the hot cell absorbed most
  * of every batch; both figures grow ~linearly in drifted volume, so
  * degradation is gradual, not a cliff). REBUILD TRIGGER: retrain +
  * rebuild when sum_sq exceeds ~2× or max_cell ~8× their build-time
  * values — past that the hot-cell fetch dominates serving latency and
  * batch folds pay occ(hot) per arrival that lands there, while
  * rebuild cost stays the fixed ~1×-corpus price (amortized over the
  * drift window that tripped the trigger).
  *
  * Scale shape (the precise bounds, r14 — every prune below is a LITERAL
  * partition predicate from a collected driver-bounded touch set; the
  * r13 broadcast-join prunes relied on DPP heuristics that do NOT fire
  * for checkpointed build sides and silently full-scanned, measured):
  * an arrival batch of m vectors reads
  *  - members/postings: the ≤2m probed-cell partitions — O(m · occ);
  *  - graph: the gaining homes (defense check; a gaining member's stored
  *    list lives exactly in its home partition — the unpruned
  *    vec_id-keyed r13 form scanned all n·K edges per batch) plus the
  *    changed homes once (storedTouched is checkpointed; its three
  *    consumers cost one parquet pass, not three) —
  *    O(min(m · 2occ, C) partitions · occ · K);
  *  - dir/adj: the batch ids' / changed-edge ENDPOINTS' shards —
  *    O(min(endpoints, S) · rows-per-shard), endpoints ≈ 2K · changed +
  *    K · m. S scales with the corpus at build (see DirShardsFloor) so
  *    rows-per-shard is constant and the id-sharded reads become
  *    batch-proportional once S ≫ endpoints — at fixture scale the
  *    S-floor dominates and adj reads whole tables (SCALE.md r14 records
  *    the decomposition; the 100 TB regime is the one the bound is for).
  * Rewrites cover exactly the same partitions. Dynamic partition
  * overwrite keeps every untouched cell directory byte-identical on
  * disk. A batch near C/(2·occ) degenerates every bound to "all
  * partitions" — at that ratio REBUILD is the right operation anyway
  * (measured: add ≈ 0.5× rebuild wall even fully saturated).
  *
  * Arrival CONTRACT (guarded, not assumed): arrival vec_ids must be
  * unique within the batch and NEW to the store — a replayed batch or an
  * id collision would silently duplicate member/posting rows and corrupt
  * graph top-K lists, voiding the theorem. Both guards are O(batch): the
  * in-batch check is a distinct count on the checkpointed batch; the
  * store check probes the id directory pruned to the batch ids' shards.
  * A same-id-different-vector arrival is a RE-EMBED, not an arrival —
  * route it through `removeVectors` + `addArrivals`.
  */
object KnnStore {
  import SimSearch.{candidates, probedCells, topK}

  /** Id-shard count floor. The ACTUAL shard count is a per-store LAYOUT
    * property fixed at build time (≈ n/4096, floored here) and persisted
    * in `_meta.json` at the store root so every maintenance fold and
    * serving walk agrees without knowing corpus size. Scaling shards
    * with the corpus is what keeps an id-sharded read proportional to
    * the TOUCH SET: with a fixed shard count, any batch whose ids span
    * all shards reads the whole dir/adj table (measured r14 at 200k —
    * 64 shards, a 38-vector batch hit every one), while n-scaled shards
    * bound a read by touched-shards × (rows/shard) with rows/shard
    * constant across corpus growth.
    */
  val DirShardsFloor = 64L

  private def metaPath(root: String) =
    new org.apache.hadoop.fs.Path(s"$root/_meta.json")

  private def writeMeta(s: SparkSession, root: String, shards: Long): Unit = {
    val p = metaPath(root)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    out.write(s"""{"dirShards":$shards}""".getBytes("UTF-8"))
    out.close()
  }

  private[graft] def readDirShards(s: SparkSession, root: String): Long = {
    val p = metaPath(root)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val in = fs.open(p)
    val txt = new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    in.close()
    """"dirShards"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(
        s"KnnStore meta at $p has no dirShards"))
  }

  /** Every eager checkpoint in this op family goes through
    * PlanUtil.cleanLocalCheckpoint: plain localCheckpoint(true) copies
    * the lineage's CONSTRAINT set onto the new leaf, and a constraint
    * referencing a USING-join's dropped key poisons any later Union over
    * the frame (Catalyst key-not-found in rewriteConstraints — hit by
    * removeVectors' merge union).
    */
  private implicit class CkptOps(df: DataFrame) {
    def cleanCkpt: DataFrame =
      org.apache.spark.sql.graft.PlanUtil.cleanLocalCheckpoint(df)
  }

  private def shardOf(id: org.apache.spark.sql.Column, shards: Long) =
    pmod(xxhash64(id), lit(shards))

  // Partition columns read back TYPE-INFERRED (bucket= dirs of longs come
  // back INT below ~2^31, LONG above — cell ids are centroid vec_ids, so
  // ScaleUp's 10^12-offset ids cross that line). An explicit read schema
  // pins the type at LONG across scales AND keeps the partition attribute
  // raw — a cast-after-read wraps the join key and DEFEATS partition
  // pruning (measured r13: the cast form's addArrivals full-scanned all
  // three tables and ran 0.8× of a full rebuild instead of O(batch)).
  private[graft] def readMembers(s: SparkSession, root: String): DataFrame =
    s.read.schema("vec_id LONG, vn ARRAY<DOUBLE>, bucket2 LONG, bucket LONG")
      .parquet(s"$root/members")
  private[graft] def readPostings(s: SparkSession, root: String): DataFrame =
    s.read.schema("vec_id LONG, vn ARRAY<DOUBLE>, home LONG, pcell LONG")
      .parquet(s"$root/postings")
  private[graft] def readGraph(s: SparkSession, root: String): DataFrame =
    s.read.schema(
        "vec_id LONG, rank LONG, nbr LONG, cos DOUBLE, bucket LONG")
      .parquet(s"$root/graph")
  private[graft] def readDir(s: SparkSession, root: String): DataFrame =
    s.read.schema("vec_id LONG, home LONG, bucket2 LONG, shard LONG")
      .parquet(s"$root/dir")
  private[graft] def readAdj(s: SparkSession, root: String): DataFrame =
    s.read.schema("v LONG, u LONG, owner LONG, shard LONG")
      .parquet(s"$root/adj")

  /** Normalize + assign a (vec_id, v) frame against the static centroid
    * index: (vec_id, vn, bucket, bucket2), primary-assignable rows only
    * (bucket null ⇒ both probed cells empty ⇒ unindexable, the caller's
    * novel path — same drop as SimSearch.bucketTail's member set).
    */
  private def assignFrame(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val assign = SimSearch.staticAssignColumn(cents)
    vecs.select(col("vec_id"), Vectors.normalize(col("v")).as("vn"),
        assign(col("v")).as("a"))
      .select(col("vec_id"), col("vn"),
        col("a").getField("bucket").as("bucket"),
        col("a").getField("bucket2").as("bucket2"))
      .where(col("bucket").isNotNull)
  }

  private def postingsOf(assigned: DataFrame): DataFrame =
    assigned.select(col("vec_id"), col("vn"), col("bucket").as("home"),
      probedCells(col("bucket"), col("bucket2")).as("pcell"))

  /** One file per cell directory: partitionBy writes a file per (task ×
    * partition-value), so an unrepartitioned 32-task write into C=n/occ
    * cell dirs explodes into ~32·C small files (measured: the r13 probe's
    * first build at 200k crawled on ~100k-file writes). Clustering rows
    * by the partition value first makes every write one file per dir —
    * the same discipline a 100 TB table needs for its object store.
    */
  private[graft] def writePartitioned(df: DataFrame, part: String,
      path: String, sortCol: Option[String] = None): Unit = {
    val clustered = df.repartition(col(part))
    // an in-task sort keeps one-file-per-dir (the writer still splits by
    // partition value) while giving parquet row-group min/max stats on
    // the sorted column — literal id probes then skip below partition
    // granularity (the dir/adj point-lookup contract). Sorted index
    // tables also write SMALL row groups (1 MiB vs the 128 MiB scan
    // default): a point lookup's isin pushdown skips at row-group
    // granularity, so the granule — not the shard — bounds what a
    // frontier fetch reads as shards grow with the corpus.
    val writer = sortCol.fold(clustered)(c =>
        clustered.sortWithinPartitions(col(part), col(c)))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
    sortCol.fold(writer)(_ =>
        writer.option("parquet.block.size", (1L << 20).toString))
      .partitionBy(part).parquet(path)
  }

  private def dirOf(assigned: DataFrame, shards: Long): DataFrame =
    assigned.select(col("vec_id"), col("bucket").as("home"),
      col("bucket2"), shardOf(col("vec_id"), shards).as("shard"))

  /** Both undirected rows of each (vec_id → nbr) edge list row, owner =
    * the list's member.
    */
  private def adjOf(edges: DataFrame, shards: Long): DataFrame =
    edges.select(col("vec_id").as("v"), col("nbr").as("u"),
        col("vec_id").as("owner"))
      .union(edges.select(col("nbr").as("v"), col("vec_id").as("u"),
        col("vec_id").as("owner")))
      .withColumn("shard", shardOf(col("v"), shards))

  /** Re-alias every column (fresh exprIds): checkpointed frames keep
    * their lineage's constraint sets, and a leaked constraint attribute
    * (e.g. a USING-join's dropped right-side key) breaks Catalyst's
    * union constraint rewrite with key-not-found when such frames meet
    * in a Union. The alias projection gives the union child a clean
    * attribute boundary.
    */
  private def fresh(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).as(c)).toSeq: _*)

  /** Point-read of an exact partition-value set: pass the partition
    * DIRECTORIES as the paths (basePath keeps the partition column in
    * the schema), so the file-system LISTING — itself a Spark job with
    * one task per directory on a plain InMemoryFileIndex — touches only
    * the requested values instead of all C cell dirs. Measured r14: the
    * 31,250-dir members listing was the whole residual cost of a beam
    * walk at 2M (one listing ≈ 10k tasks ≈ 10+ s; the actual pruned
    * read is ~10 tasks). Values whose directory does not exist (an id
    * with no adjacency rows) are dropped with a driver-side stat —
    * ≤ |values| cheap FS calls.
    */
  private[graft] def readPart(s: SparkSession, base: String,
      schemaStr: String, part: String, values: Seq[Long]): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sessionState.newHadoopConf())
    val distinctVals = values.distinct
    // existence screen: per-value exists() is one driver-side RPC each —
    // right for a beam-sized frontier, but a maintenance touch set can
    // reach min(endpoints, S) values and the serial round-trip loop would
    // dominate on an object store. Past a handful of values, ONE
    // listStatus of the base enumerates all present partition dirs in a
    // single RPC and the screen becomes a set intersection (r14 ADVICE).
    val present: Long => Boolean =
      if (distinctVals.size <= 16)
        v => fs.exists(new org.apache.hadoop.fs.Path(s"$base/$part=$v"))
      else {
        val names =
          (try fs.listStatus(new org.apache.hadoop.fs.Path(base))
           catch { case _: java.io.FileNotFoundException =>
             Array.empty[org.apache.hadoop.fs.FileStatus] })
            .filter(_.isDirectory).map(_.getPath.getName)
            .filter(_.startsWith(s"$part=")).toSet
        v => names.contains(s"$part=$v")
      }
    val dirs = distinctVals.filter(present).map(v => s"$base/$part=$v")
    if (dirs.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(schemaStr))
    else
      s.read.schema(schemaStr).option("basePath", base)
        .parquet(dirs: _*)
  }

  private[graft] val MembersSchema =
    "vec_id LONG, vn ARRAY<DOUBLE>, bucket2 LONG, bucket LONG"
  private[graft] val DirSchema =
    "vec_id LONG, home LONG, bucket2 LONG, shard LONG"
  private[graft] val AdjSchema = "v LONG, u LONG, owner LONG, shard LONG"
  private[graft] val PostingsSchema =
    "vec_id LONG, vn ARRAY<DOUBLE>, home LONG, pcell LONG"
  private[graft] val GraphSchema =
    "vec_id LONG, rank LONG, nbr LONG, cos DOUBLE, bucket LONG"

  /** Collect a one-column LONG frame to literal values. The touch sets
    * here are driver-bounded by contract (O(batch · occupancy) values),
    * and LITERAL partition predicates are the only prune GUARANTEED at
    * planning time: the broadcast-join form leans on runtime DPP
    * heuristics that do not fire for checkpointed build sides — measured
    * r14, addArrivals read 2.7× a full rebuild's input records at 200k
    * under join prunes, O(touched partitions) under literal prunes.
    */
  private def litSeq(df: DataFrame): Seq[Long] =
    df.distinct().collect().map(_.getLong(0)).toSeq

  /** Driver-side twin of `shardOf` — the same XXH64(seed 42) Spark's
    * xxhash64 column evaluates, via the Catalyst expression itself so the
    * two can never drift. Lets a serving walk turn a collected frontier
    * into LITERAL shard predicates (static partition pruning + row-group
    * stats skipping), with no per-round assist job.
    */
  private[graft] def shardOfId(id: Long, shards: Long): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(Seq(Literal(id)), 42L).eval(null).asInstanceOf[Long]
    java.lang.Math.floorMod(h, shards)
  }

  /** Build the store from scratch: members, postings, and the probe-2
    * top-K graph (the same candidates + topK kernel as SimSearch's
    * bucketTail — the spec pins row-identity against
    * q_sim_knn_graph_trained2 under the same centroid frame).
    */
  def build(s: SparkSession, corpus: DataFrame, cents: DataFrame,
      root: String, k: Int): Unit = {
    // from-scratch means FROM SCRATCH: dynamic partition overwrite keeps
    // any cell partitions a previous store at this root wrote (a crashed
    // probe run's leftovers) — ghost rows that break the build ≡
    // registered-graph identity. Delete the root first; dynamic mode is
    // for addArrivals only.
    val rootPath = new org.apache.hadoop.fs.Path(root)
    rootPath.getFileSystem(s.sessionState.newHadoopConf())
      .delete(rootPath, true)
    writePartitioned(assignFrame(corpus, cents), "bucket",
      s"$root/members")
    val members = readMembers(s, root)
    // id-shard count scales with the corpus (≈4096 ids/shard, floored):
    // fixed at build, persisted in _meta.json — see DirShardsFloor
    val dirShards =
      math.max(DirShardsFloor, members.count() / 4096L)
    writeMeta(s, root, dirShards)
    writePartitioned(postingsOf(members), "pcell", s"$root/postings")
    val probes = readPostings(s, root)
      .select(col("vec_id"), col("vn"), col("pcell").as("bucket"))
    val graph = topK(candidates(probes,
      members.select(col("vec_id"), col("vn"), col("bucket"))), k)
    writePartitioned(
      graph.join(members.select(col("vec_id"), col("bucket")), Seq("vec_id")),
      "bucket", s"$root/graph")
    writePartitioned(
      dirOf(members.select(col("vec_id"), col("bucket"), col("bucket2")),
        dirShards),
      "shard", s"$root/dir", sortCol = Some("vec_id"))
    // adj derives from the just-written graph (a re-READ, not a recompute
    // of the top-K plan)
    writePartitioned(adjOf(readGraph(s, root), dirShards), "shard",
      s"$root/adj", sortCol = Some("v"))
  }

  /** Fold an arrival batch into the store — exact (see the class doc
    * theorem), touching only probed partitions. Returns the per-partition
    * touch summary (bucket, n_rows) of the rewritten graph partitions.
    */
  def addArrivals(s: SparkSession, arrivals: DataFrame, cents: DataFrame,
      root: String, k: Int): DataFrame = {
    // the arrival batch is small by contract — checkpoint once, reuse
    // everywhere (also required: we read AND overwrite the same parquet
    // dirs below, so every new partition content must be materialized
    // before the first overwrite)
    val av = assignFrame(arrivals, cents).cleanCkpt
    val dirShards = readDirShards(s, root)

    // CONTRACT GUARDS (class doc): unique within the batch, disjoint from
    // the store. Both O(batch): the store probe reads only the batch ids'
    // directory shards (literal partition predicate; within a shard the
    // vec_id sort gives row-group skipping).
    val nBatch = av.count()
    require(av.select(col("vec_id")).distinct().count() == nBatch,
      "addArrivals: duplicate vec_ids within the arrival batch — " +
        "replayed/duplicated batches are out of contract")
    val aIds = av.select(col("vec_id"),
      shardOf(col("vec_id"), dirShards).as("shard"))
    // every prune below is a LITERAL partition predicate from a collected
    // touch set (all O(batch · occupancy) values — see litSeq): static
    // pruning the plan GUARANTEES, where the broadcast-join form's DPP
    // did not fire and silently full-scanned (measured r14)
    val aShardSeq = litSeq(aIds.select(col("shard")))
    val nCollide = readPart(s, s"$root/dir", DirSchema, "shard", aShardSeq)
      .join(broadcast(aIds.select(col("vec_id"))), Seq("vec_id"),
        "left_semi")
      .count()
    require(nCollide == 0,
      s"addArrivals: $nCollide arrival vec_ids already exist in the " +
        "store — a re-embed must go through removeVectors + addArrivals")

    val aPost = postingsOf(av).cleanCkpt
    val aProbes = aPost
      .select(col("vec_id"), col("vn"), col("pcell").as("bucket"))
    val aMembers = av.select(col("vec_id"), col("vn"), col("bucket"))
    val aCellSeq = litSeq(aPost.select(col("pcell")))
    val aBucketSeq = litSeq(av.select(col("bucket")))

    // arrival edges: candidates = primary members (stored ∪ in-batch) of
    // the arrival's probed cells — the stored member scan prunes to
    // exactly those partitions.
    val aCands = candidates(broadcast(aProbes),
        readPart(s, s"$root/members", MembersSchema, "bucket", aCellSeq)
          .select(col("vec_id"), col("vn"), col("bucket")))
      .union(candidates(aProbes, aMembers))
    val arrivalEdges = topK(aCands, k)

    // members gaining the arrival: every stored vector PROBING an arrival
    // primary cell (postings reverse lookup, pruned to arrival cells) —
    // candidates for a top-K merge (mergeable bounded agg).
    val gains = readPart(s, s"$root/postings", PostingsSchema, "pcell",
        aBucketSeq)
      .join(broadcast(av.select(col("vec_id").as("a_id"),
        col("vn").as("avn"), col("bucket").as("pcell"))), Seq("pcell"))
      .select(col("vec_id"), col("home"), col("a_id").as("nbr"),
        round(Vectors.dotFast(col("vn"), col("avn")), 6).as("cos"))
      .cleanCkpt

    // DEFENSE CHECK (the r13 locality fix): a gain only changes a member's
    // stored top-K when it BEATS the member's worst held edge under the
    // (score DESC, id ASC) total order — or the member holds fewer than K.
    // Without this, every member probing a touched cell rewrote its home
    // partition, and secondary probers spray homes across ~all cells: the
    // 200k probe measured addArrivals ≈ a full rebuild (39 vs 41 s). The
    // check is one read-only pass over the GAINING HOMES' graph
    // partitions — a gaining member's stored list lives exactly in its
    // home partition (gains carries home from postings), so the read
    // prunes on `bucket ∈ gains.home` FIRST (a literal partition
    // predicate); the r13 form semi-joined on vec_id alone, which is NOT
    // the partition column, and scanned all n·K stored edges per batch.
    // The REWRITE set then shrinks to members whose lists actually
    // change — exactness preserved because a non-beating gain provably
    // leaves the merged top-K identical.
    val gainIds = gains.select(col("vec_id")).distinct().cleanCkpt
    val gainHomeSeq = litSeq(gains.select(col("home")))
    val defense = readPart(s, s"$root/graph", GraphSchema, "bucket",
        gainHomeSeq)
      .join(broadcast(gainIds), Seq("vec_id"), "left_semi")
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("nk"),
        min(struct(col("cos"), (-col("nbr")).as("negnbr"))).as("worst"))
      .select(col("vec_id"), col("nk"),
        col("worst.cos").as("kcos"), (-col("worst.negnbr")).as("knbr"))
    val changed = gains
      .join(defense, Seq("vec_id"), "left_outer")
      .where(col("nk").isNull || col("nk") < k ||
        col("cos") > col("kcos") ||
        (col("cos") === col("kcos") && col("nbr") < col("knbr")))
      .select(col("vec_id"), col("home")).distinct()
      .cleanCkpt
    val touchedSeq =
      (litSeq(changed.select(col("home"))) ++ aBucketSeq).distinct

    // rewrite graph partitions: touched homes get (merged changed rows +
    // unchanged co-resident rows), arrival primaries additionally get the
    // arrival edges. Read only the touched partitions (literal prune),
    // materialize, then dynamic-overwrite exactly those dirs.
    // materialized ONCE: three consumers (unchanged, merged, oldChanged)
    // would otherwise each re-scan the touched graph partitions from
    // parquet — measured r14, the graph table contributed ~3× its touched
    // size to the batch's read volume before this checkpoint
    val storedTouched = readPart(s, s"$root/graph", GraphSchema, "bucket",
        touchedSeq)
      .cleanCkpt
    val changedIds = changed.select(col("vec_id"))
    val unchanged = storedTouched
      .join(broadcast(changedIds), Seq("vec_id"), "left_anti")
    val merged = topK(
      storedTouched.join(broadcast(changedIds), Seq("vec_id"), "left_semi")
        .select(col("vec_id"), col("nbr"), col("cos"))
        .union(gains.join(broadcast(changedIds), Seq("vec_id"), "left_semi")
          .select(col("vec_id"), col("nbr"), col("cos"))), k)
      .join(broadcast(changed.select(col("vec_id"), col("home").as("bucket"))),
        Seq("vec_id"))
    val newGraphRows = unchanged
      .select(col("vec_id"), col("rank"), col("nbr"), col("cos"), col("bucket"))
      .union(merged
        .select(col("vec_id"), col("rank"), col("nbr"), col("cos"), col("bucket")))
      .union(arrivalEdges
        .join(av.select(col("vec_id"), col("bucket")), Seq("vec_id"))
        .select(col("vec_id"), col("rank"), col("nbr"), col("cos"), col("bucket")))
      .cleanCkpt

    // adj delta frames — materialized BEFORE the graph overwrite (both
    // read the graph table). Removals: every adj row OWNED by a changed
    // member (its old list's two directions); additions: both directions
    // of the changed members' merged lists and the arrival lists. Every
    // endpoint of a removed or added edge names an affected shard; a
    // changed owner's old rows live only at shards of {owner} ∪ {old
    // nbrs} ⊆ affected, so the owner anti-join within affected shards
    // removes exactly them.
    val oldChanged = storedTouched
      .join(broadcast(changedIds), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("nbr")).cleanCkpt
    val deltaNew = newGraphRows
      .join(broadcast(changedIds.union(av.select(col("vec_id")))),
        Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("nbr")).cleanCkpt
    writePartitioned(newGraphRows, "bucket", s"$root/graph")
    val affectedShardSeq = litSeq(oldChanged.union(deltaNew)
      .select(explode(array(col("vec_id"), col("nbr"))).as("id"))
      .select(shardOf(col("id"), dirShards).as("shard")))
    val newAdjRows = readPart(s, s"$root/adj", AdjSchema, "shard",
        affectedShardSeq)
      .join(broadcast(changedIds.select(col("vec_id").as("owner"))),
        Seq("owner"), "left_anti")
      .select(col("v"), col("u"), col("owner"), col("shard"))
      .union(adjOf(deltaNew, dirShards))
      .cleanCkpt
    // overwriteTouched, not writePartitioned: an affected shard whose
    // surviving rows were all owned by changed members and gains no
    // deltaNew rows ends up EMPTY, and dynamic overwrite would silently
    // keep its stale file — ghost reverse edges served to beamSearch
    // (removeVectors always guarded this; addArrivals did not, r14 ADVICE)
    overwriteTouched(s, newAdjRows, "shard", s"$root/adj",
      affectedShardSeq, sortCol = Some("v"))

    // members: arrival primary partitions gain the batch rows
    val newMemberRows =
      readPart(s, s"$root/members", MembersSchema, "bucket", aBucketSeq)
      .select(col("vec_id"), col("vn"), col("bucket2"), col("bucket"))
      .union(av.select(col("vec_id"), col("vn"), col("bucket2"), col("bucket")))
      .cleanCkpt
    writePartitioned(newMemberRows, "bucket", s"$root/members")

    // postings: every probed cell gains the arrival's posting row
    val newPostingRows =
      readPart(s, s"$root/postings", PostingsSchema, "pcell", aCellSeq)
      .select(col("vec_id"), col("vn"), col("home"), col("pcell"))
      .union(aPost.select(col("vec_id"), col("vn"), col("home"), col("pcell")))
      .cleanCkpt
    writePartitioned(newPostingRows, "pcell", s"$root/postings")

    // dir: the batch ids' shards gain the arrival directory rows
    val newDirRows =
      readPart(s, s"$root/dir", DirSchema, "shard", aShardSeq)
      .select(col("vec_id"), col("home"), col("bucket2"), col("shard"))
      .union(dirOf(av, dirShards))
      .cleanCkpt
    writePartitioned(newDirRows, "shard", s"$root/dir",
      sortCol = Some("vec_id"))

    newGraphRows.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** Overwrite the `touched` partitions of `path` with `df` — including
    * partitions that end up EMPTY: dynamic partition overwrite only
    * replaces directories present in the written data, so a partition
    * whose rows were all removed would silently keep its stale file.
    * `touched` must be the small driver-bounded touch set (O(batch ·
    * occupancy) values); the present-set collect is bounded by it.
    */
  private def overwriteTouched(s: SparkSession, df: DataFrame, part: String,
      path: String, touched: Seq[Long],
      sortCol: Option[String] = None): Unit = {
    val present = df.select(col(part)).distinct()
      .collect().map(_.getLong(0)).toSet
    val vanished = touched.filterNot(present)
    writePartitioned(df, part, path, sortCol)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sessionState.newHadoopConf())
    vanished.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$part=$v"), true)
    }
  }

  /** Remove vectors BY ID — the store's update/delete story (exact, like
    * everything else here): after `build(corpus)` + `removeVectors(ids)`,
    * all five tables are row-identical to `build(corpus \ ids)`
    * (KnnStoreSpec theorem). A re-embedded vector (the CDC upsert case
    * `Streams.upsertBatch` raises for documents) is `upsert` below =
    * remove(old id) + addArrivals(new row).
    *
    * Unlike addArrivals, removal must UNDO top-K evictions it cannot
    * see: a member holding a victim as a neighbour needs candidates the
    * original fold threw away, so affected members' lists are RECOMPUTED
    * from their probed cells' current members. Everything stays
    * partition-pruned — an id-only request never scans the corpus:
    *  - victims' homes/probed cells come from the id DIRECTORY (their
    *    own shards);
    *  - holders ⊆ probers of the victims' primary cells (a graph row
    *    (h, victim) exists only if h probes victim.home — the candidate
    *    relation), i.e. the postings partitions pcell ∈ victims.home and
    *    the graph partitions of those probers' homes;
    *  - holders' recompute reads the member partitions of THEIR probed
    *    cells — O(holders · occupancy) work, holders ≤ occupancy ·
    *    |victims|.
    * Returns the per-partition row summary of the rewritten graph cells.
    */
  def removeVectors(s: SparkSession, ids: DataFrame, root: String,
      k: Int): DataFrame = {
    val dirShards = readDirShards(s, root)
    val rmIds = ids.select(col("vec_id"),
        shardOf(col("vec_id"), dirShards).as("shard"))
      .cleanCkpt
    val nRm = rmIds.count()
    require(rmIds.select(col("vec_id")).distinct().count() == nRm,
      "removeVectors: duplicate vec_ids in the removal batch")
    val rmShardSeq = litSeq(rmIds.select(col("shard")))
    val victims = readPart(s, s"$root/dir", DirSchema, "shard", rmShardSeq)
      .join(broadcast(rmIds.select(col("vec_id"))), Seq("vec_id"),
        "left_semi")
      .select(col("vec_id"), col("home"), col("bucket2"))
      .cleanCkpt
    require(victims.count() == nRm,
      "removeVectors: some ids are not in the store")
    // defs, not vals: these tiny frames feed joins in BOTH arms of
    // several later unions, and a reused exprId across union children
    // breaks Catalyst's union constraint rewrite (key-not-found) — the
    // alias mints a fresh attribute per use
    def vIds = victims.select(col("vec_id").as("vec_id"))
    val vHomeSeq = litSeq(victims.select(col("home")))
    val vCellSeq = litSeq(victims
      .select(probedCells(col("home"), col("bucket2")).as("cell")))

    // holders: probers of the victims' primary cells whose stored list
    // contains a victim (victims' own lists are dropped wholesale, so
    // victims are not "holders" to recompute)
    val probers = readPart(s, s"$root/postings", PostingsSchema, "pcell",
        vHomeSeq)
      .join(broadcast(vIds), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("home")).distinct()
      .cleanCkpt
    val proberHomeSeq = litSeq(probers.select(col("home")))
    val proberLists = readPart(s, s"$root/graph", GraphSchema, "bucket",
        proberHomeSeq)
      .join(broadcast(probers.select(col("vec_id"))), Seq("vec_id"),
        "left_semi")
      .cleanCkpt
    val holders = proberLists
      .join(broadcast(vIds.select(col("vec_id").as("nbr"))), Seq("nbr"),
        "left_semi")
      .select(col("vec_id"), col("bucket").as("home")).distinct()
      .cleanCkpt
    def hIds = holders.select(col("vec_id").as("vec_id"))

    // holders' member rows (vn + probed cells), then their full candidate
    // recompute against the post-removal members of those cells
    val hHomeSeq = litSeq(holders.select(col("home")))
    val hProbes = readPart(s, s"$root/members", MembersSchema, "bucket",
        hHomeSeq)
      .join(broadcast(hIds), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("vn"),
        probedCells(col("bucket"), col("bucket2")).as("bucket"))
      .cleanCkpt
    val hCellSeq = litSeq(hProbes.select(col("bucket")))
    val candMembers = readPart(s, s"$root/members", MembersSchema,
        "bucket", hCellSeq)
      .join(broadcast(vIds), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("vn"), col("bucket"))
    val newLists = topK(candidates(broadcast(hProbes), candMembers), k)
      .join(broadcast(holders.select(col("vec_id"),
        col("home").as("bucket"))), Seq("vec_id"))
      .cleanCkpt

    // graph rewrite set + adj deltas (materialized before any write)
    val touchedGraphSeq = (vHomeSeq ++ hHomeSeq).distinct
    val storedTouched = readPart(s, s"$root/graph", GraphSchema, "bucket",
        touchedGraphSeq)
    // the kept arm is materialized on its own first: unioning the
    // double-anti-join lineage with the recompute lineage trips
    // Catalyst's union constraint rewrite (key-not-found on the shared
    // vec_id attribute — the r6 shared-lineage family)
    val keptRows = storedTouched
      .join(broadcast(vIds), Seq("vec_id"), "left_anti")
      .join(broadcast(hIds), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("rank"), col("nbr"), col("cos"),
        col("bucket"))
      .cleanCkpt
    val newGraphRows = fresh(keptRows)
      .union(fresh(newLists.select(col("vec_id"), col("rank"), col("nbr"),
        col("cos"), col("bucket"))))
      .cleanCkpt
    val oldVictimLists = readPart(s, s"$root/graph", GraphSchema,
        "bucket", vHomeSeq)
      .join(broadcast(vIds), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("nbr"))
    val oldHolderLists = proberLists
      .join(broadcast(hIds), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("nbr"))
    val deltaOld = oldVictimLists.union(oldHolderLists).cleanCkpt
    val deltaNew = newLists.select(col("vec_id"), col("nbr"))
    val rmOwners = vIds.union(hIds).select(col("vec_id").as("owner"))
      .cleanCkpt
    val affectedShardSeq = litSeq(deltaOld.union(deltaNew)
      .select(explode(array(col("vec_id"), col("nbr"))).as("id"))
      .select(shardOf(col("id"), dirShards).as("shard")))
    val newAdjRows = readPart(s, s"$root/adj", AdjSchema, "shard",
        affectedShardSeq)
      .join(broadcast(rmOwners), Seq("owner"), "left_anti")
      .select(col("v"), col("u"), col("owner"), col("shard"))
      .union(adjOf(deltaNew, dirShards))
      .cleanCkpt

    // members / postings / dir shrink in place (pruned reads, no
    // additions)
    val newMemberRows = readPart(s, s"$root/members", MembersSchema,
        "bucket", vHomeSeq)
      .join(broadcast(vIds), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("vn"), col("bucket2"), col("bucket"))
      .cleanCkpt
    val newPostingRows = readPart(s, s"$root/postings", PostingsSchema,
        "pcell", vCellSeq)
      .join(broadcast(vIds), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("vn"), col("home"), col("pcell"))
      .cleanCkpt
    val newDirRows = readPart(s, s"$root/dir", DirSchema, "shard",
        rmShardSeq)
      .join(broadcast(vIds), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("home"), col("bucket2"), col("shard"))
      .cleanCkpt

    // all writes last; emptied partitions are deleted, not left stale
    overwriteTouched(s, newGraphRows, "bucket", s"$root/graph",
      touchedGraphSeq)
    overwriteTouched(s, newMemberRows, "bucket", s"$root/members",
      vHomeSeq)
    overwriteTouched(s, newPostingRows, "pcell", s"$root/postings",
      vCellSeq)
    overwriteTouched(s, newDirRows, "shard", s"$root/dir",
      rmShardSeq, sortCol = Some("vec_id"))
    overwriteTouched(s, newAdjRows, "shard", s"$root/adj",
      affectedShardSeq, sortCol = Some("v"))

    newGraphRows.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** Re-embed (CDC upsert): build(corpus) + upsert(batch) ≡
    * build((corpus \ batch.ids) ∪ batch) — KnnStoreSpec pins the theorem
    * and fused ≡ sequential on all five tables.
    *
    * ONE fused fold, not remove ∘ add (upsertSequential below keeps the
    * two-pass composition for the A/B and as the executable spec of the
    * semantics). The sequential form pays every guard / directory /
    * graph / adj pass TWICE over largely-overlapping touch sets; fusing
    * exploits what remove-then-add cannot see:
    *  - the victim ids ARE the arrival ids, so the dir guard, its shard
    *    reads, and the dir rewrite collapse to one pass over ONE shard
    *    set (same ids → same shards);
    *  - a holder (stored list contains a victim edge) is recomputed
    *    ONCE against the FINAL member set (stored \ victims ∪ arrivals)
    *    instead of recompute-vs-shrunken then maybe fold-the-arrival;
    *  - graph and adj partitions are rewritten once, with one combined
    *    replaced-owner set, instead of two dynamic overwrites each.
    *
    * Exactness decomposes like the two parent theorems: for x in the
    * final corpus, cand'(x) = {m ≠ x : m's new primary ∈ probes'(x)}.
    * Re-embedded rows get fresh lists against final members of their
    * (new-assignment) probed cells — in-batch pairs included, the
    * addArrivals argument. An untouched member x either holds a victim
    * edge (holder → full recompute vs final members: losing an evicted
    * candidate is exactly the removeVectors argument, gaining a
    * re-embedded candidate rides the same recompute) or it does not —
    * then its stored list ≡ its top-K over cand(x) \ U (dropping
    * non-held candidates never changes a top-K), and the only delta is
    * arrivals landing in its probed cells, folded by bounded-top-K
    * mergeability behind the same defense check addArrivals uses.
    * Rows whose NEW vector is unassignable (both probed cells empty)
    * leave the store entirely — identical to remove ∘ add, where the
    * add-side assignFrame drops them.
    */
  def upsert(s: SparkSession, updated: DataFrame, cents: DataFrame,
      root: String, k: Int): Unit = {
    val dirShards = readDirShards(s, root)
    val uIds = updated.select(col("vec_id"),
        shardOf(col("vec_id"), dirShards).as("shard"))
      .cleanCkpt
    val nU = uIds.count()
    require(uIds.select(col("vec_id")).distinct().count() == nU,
      "upsert: duplicate vec_ids in the update batch")
    def vIds = uIds.select(col("vec_id").as("vec_id"))
    val uShardSeq = litSeq(uIds.select(col("shard")))
    // presence guard + the victims' OLD placement, one directory pass
    val victims = readPart(s, s"$root/dir", DirSchema, "shard", uShardSeq)
      .join(broadcast(vIds), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("home"), col("bucket2"))
      .cleanCkpt
    require(victims.count() == nU,
      "upsert: some ids are not in the store — new ids go through " +
        "addArrivals")
    val vHomeSeq = litSeq(victims.select(col("home")))
    val vCellSeq = litSeq(victims
      .select(probedCells(col("home"), col("bucket2")).as("cell")))

    // the batch under its NEW assignment (unassignable rows drop out)
    val av = assignFrame(updated, cents).cleanCkpt
    val aPost = postingsOf(av).cleanCkpt
    val aProbes = aPost
      .select(col("vec_id"), col("vn"), col("pcell").as("bucket"))
    val aCellSeq = litSeq(aPost.select(col("pcell")))
    val aBucketSeq = litSeq(av.select(col("bucket")))

    // final members of a cell set: stored minus victims, plus arrivals
    // newly primary there — the candidate ground truth every recompute
    // and fresh list scores against
    def finalMembers(cellSeq: Seq[Long]): DataFrame =
      readPart(s, s"$root/members", MembersSchema, "bucket", cellSeq)
        .join(broadcast(vIds), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("vn"), col("bucket"))
        .union(av.where(col("bucket").isin(cellSeq: _*))
          .select(col("vec_id"), col("vn"), col("bucket")))

    // holders: members (≠ victims) whose stored list carries a victim
    // edge — a graph row (h, u) exists only if h probes u's old home,
    // so holders ⊆ probers of the victims' old primaries (postings
    // reverse lookup, pruned)
    val probers = readPart(s, s"$root/postings", PostingsSchema, "pcell",
        vHomeSeq)
      .join(broadcast(vIds), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("home")).distinct()
      .cleanCkpt
    val proberHomeSeq = litSeq(probers.select(col("home")))
    val proberLists = readPart(s, s"$root/graph", GraphSchema, "bucket",
        proberHomeSeq)
      .join(broadcast(probers.select(col("vec_id"))), Seq("vec_id"),
        "left_semi")
      .cleanCkpt
    val holders = proberLists
      .join(broadcast(vIds.select(col("vec_id").as("nbr"))), Seq("nbr"),
        "left_semi")
      .select(col("vec_id"), col("bucket").as("home")).distinct()
      .cleanCkpt
    def hIds = holders.select(col("vec_id").as("vec_id"))

    // holders recompute ONCE, against the final member set
    val hHomeSeq = litSeq(holders.select(col("home")))
    val hProbes = readPart(s, s"$root/members", MembersSchema, "bucket",
        hHomeSeq)
      .join(broadcast(hIds), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("vn"),
        probedCells(col("bucket"), col("bucket2")).as("bucket"))
      .cleanCkpt
    val hCellSeq = litSeq(hProbes.select(col("bucket")))
    val hLists = topK(candidates(broadcast(hProbes),
        finalMembers(hCellSeq)), k)
      .join(broadcast(holders.select(col("vec_id"),
        col("home").as("bucket"))), Seq("vec_id"))
      .cleanCkpt

    // fresh lists for the re-embedded rows (final members include the
    // in-batch co-arrivals of shared cells)
    val aLists = topK(candidates(broadcast(aProbes),
        finalMembers(aCellSeq)), k)
      .join(av.select(col("vec_id"), col("bucket")), Seq("vec_id"))
      .cleanCkpt

    // gains: stored members (≠ victims, ≠ holders — holders' recompute
    // already sees the arrivals) probing an arrival's NEW primary cell,
    // with the addArrivals defense check against their stored lists
    val gains = readPart(s, s"$root/postings", PostingsSchema, "pcell",
        aBucketSeq)
      .join(broadcast(vIds), Seq("vec_id"), "left_anti")
      .join(broadcast(hIds), Seq("vec_id"), "left_anti")
      .join(broadcast(av.select(col("vec_id").as("a_id"),
        col("vn").as("avn"), col("bucket").as("pcell"))), Seq("pcell"))
      .select(col("vec_id"), col("home"), col("a_id").as("nbr"),
        round(Vectors.dotFast(col("vn"), col("avn")), 6).as("cos"))
      .cleanCkpt
    val gainIds = gains.select(col("vec_id")).distinct().cleanCkpt
    val gainHomeSeq = litSeq(gains.select(col("home")))
    val defense = readPart(s, s"$root/graph", GraphSchema, "bucket",
        gainHomeSeq)
      .join(broadcast(gainIds), Seq("vec_id"), "left_semi")
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("nk"),
        min(struct(col("cos"), (-col("nbr")).as("negnbr"))).as("worst"))
      .select(col("vec_id"), col("nk"),
        col("worst.cos").as("kcos"), (-col("worst.negnbr")).as("knbr"))
    val changed = gains
      .join(defense, Seq("vec_id"), "left_outer")
      .where(col("nk").isNull || col("nk") < k ||
        col("cos") > col("kcos") ||
        (col("cos") === col("kcos") && col("nbr") < col("knbr")))
      .select(col("vec_id"), col("home")).distinct()
      .cleanCkpt
    def changedIds = changed.select(col("vec_id").as("vec_id"))

    // ONE graph pass over the combined touch set; replaced owners =
    // victims ∪ holders ∪ defense-passing gainers (pairwise disjoint by
    // construction)
    val touchedGraphSeq = (vHomeSeq ++ hHomeSeq ++ aBucketSeq ++
      litSeq(changed.select(col("home")))).distinct
    val storedTouched = readPart(s, s"$root/graph", GraphSchema, "bucket",
        touchedGraphSeq)
      .cleanCkpt
    val replacedIds = fresh(vIds).union(fresh(hIds))
      .union(fresh(changedIds)).cleanCkpt
    val keptRows = storedTouched
      .join(broadcast(replacedIds), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("rank"), col("nbr"), col("cos"),
        col("bucket"))
      .cleanCkpt
    val merged = topK(
      storedTouched.join(broadcast(changedIds), Seq("vec_id"), "left_semi")
        .select(col("vec_id"), col("nbr"), col("cos"))
        .union(gains.join(broadcast(changedIds), Seq("vec_id"), "left_semi")
          .select(col("vec_id"), col("nbr"), col("cos"))), k)
      .join(broadcast(changed.select(col("vec_id"),
        col("home").as("bucket"))), Seq("vec_id"))
      .cleanCkpt
    val newGraphRows = fresh(keptRows)
      .union(fresh(merged.select(col("vec_id"), col("rank"), col("nbr"),
        col("cos"), col("bucket"))))
      .union(fresh(hLists.select(col("vec_id"), col("rank"), col("nbr"),
        col("cos"), col("bucket"))))
      .union(fresh(aLists.select(col("vec_id"), col("rank"), col("nbr"),
        col("cos"), col("bucket"))))
      .cleanCkpt

    // adj delta: drop every row owned by a replaced member (old victim /
    // holder / changed lists), add both directions of the replacement
    // lists — one rewrite over the union shard set
    val oldOwned = storedTouched
      .join(broadcast(replacedIds), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("nbr"))
      .cleanCkpt
    val deltaNew = fresh(merged.select(col("vec_id"), col("nbr")))
      .union(fresh(hLists.select(col("vec_id"), col("nbr"))))
      .union(fresh(aLists.select(col("vec_id"), col("nbr"))))
      .cleanCkpt
    val rmOwners = replacedIds.select(col("vec_id").as("owner")).cleanCkpt
    val affectedShardSeq = litSeq(oldOwned.union(deltaNew)
      .select(explode(array(col("vec_id"), col("nbr"))).as("id"))
      .select(shardOf(col("id"), dirShards).as("shard")))
    val newAdjRows = readPart(s, s"$root/adj", AdjSchema, "shard",
        affectedShardSeq)
      .join(broadcast(rmOwners), Seq("owner"), "left_anti")
      .select(col("v"), col("u"), col("owner"), col("shard"))
      .union(adjOf(deltaNew, dirShards))
      .cleanCkpt

    // members / postings / dir: drop the victims' rows, add the
    // re-assigned batch — each table one pass over old ∪ new cells
    val memberCellSeq = (vHomeSeq ++ aBucketSeq).distinct
    val newMemberRows = readPart(s, s"$root/members", MembersSchema,
        "bucket", memberCellSeq)
      .join(broadcast(vIds), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("vn"), col("bucket2"), col("bucket"))
      .union(av.select(col("vec_id"), col("vn"), col("bucket2"),
        col("bucket")))
      .cleanCkpt
    val postingCellSeq = (vCellSeq ++ aCellSeq).distinct
    val newPostingRows = readPart(s, s"$root/postings", PostingsSchema,
        "pcell", postingCellSeq)
      .join(broadcast(vIds), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("vn"), col("home"), col("pcell"))
      .union(aPost.select(col("vec_id"), col("vn"), col("home"),
        col("pcell")))
      .cleanCkpt
    val newDirRows = readPart(s, s"$root/dir", DirSchema, "shard",
        uShardSeq)
      .join(broadcast(vIds), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("home"), col("bucket2"), col("shard"))
      .union(dirOf(av, dirShards))
      .cleanCkpt

    // all writes last; emptied partitions deleted, not left stale
    overwriteTouched(s, newGraphRows, "bucket", s"$root/graph",
      touchedGraphSeq)
    overwriteTouched(s, newMemberRows, "bucket", s"$root/members",
      memberCellSeq)
    overwriteTouched(s, newPostingRows, "pcell", s"$root/postings",
      postingCellSeq)
    overwriteTouched(s, newDirRows, "shard", s"$root/dir",
      uShardSeq, sortCol = Some("vec_id"))
    overwriteTouched(s, newAdjRows, "shard", s"$root/adj",
      affectedShardSeq, sortCol = Some("v"))
  }

  /** The remove ∘ add composition the fused `upsert` replaced — kept as
    * the executable SPEC of upsert semantics (KnnStoreSpec pins fused ≡
    * sequential on all five tables) and the A/B baseline (Probe
    * knnupsert).
    */
  private[graft] def upsertSequential(s: SparkSession, updated: DataFrame,
      cents: DataFrame, root: String, k: Int): Unit = {
    removeVectors(s, updated.select(col("vec_id")), root, k)
    addArrivals(s, updated, cents, root, k)
  }

  /** Occupancy audit — the DRIFT METER for the no-retrain contract (see
    * the class doc): one members scan + one agg returning (n_cells,
    * n_members, sum_sq, max_cell). Σsize² is the figure every bucketed
    * pair bound rides (pair work ∝ Σsize²; the r10 semdedup skew probe
    * measured 66× uniform Σsize² → 32× pair wall) and max_cell bounds a
    * single serving fetch. Run it after arrival batches whose
    * distribution may have DRIFTED from the training corpus — centroids
    * deliberately never retrain, so drift parks every arrival in the few
    * cells nearest the new mode and the audit is the only warning.
    * Priced as an audit: a full members pass, not a maintenance
    * point-read.
    */
  def occupancyAudit(s: SparkSession, root: String): DataFrame =
    readMembers(s, root)
      .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_cells"), sum(col("c")).as("n_members"),
        sum(col("c") * col("c")).as("sum_sq"), max(col("c")).as("max_cell"))

  /** HNSW-style beam walk served ENTIRELY from the persisted store —
    * every read partition-pruned by LITERAL predicates derived from the
    * (driver-resident, B-sized) frontier: adj shards for the
    * neighbourhood, dir shards for id → home, member cells for the
    * candidate vectors. Per-round read volume is therefore ∝ frontier
    * (≤ B·(2K+1) ids across ≤ B partitions per table, row-group-skipped
    * within via the sorted layout), independent of corpus size —
    * measured in SCALE.md r14 (Probe beamstore, RunMetrics
    * inputRecords). The frontier lives on the driver like the query
    * vector itself: B ≤ tens, the honest serving shape — this is the
    * one operator family where the driver IS the right place for state.
    *
    * Identical math to q_sim_graph_beam (BeamSpec pins collected-row
    * equality): score = round(dot(vn, qv), 6) against the stored
    * normalized vectors; per-round top-B under (cos DESC, id ASC);
    * expand = frontier ∪ its undirected graph neighbourhood; excludeId
    * dropped everywhere. Seeds must be indexed ids (a non-member seed is
    * dropped by the member fetch).
    *
    * SEED CONTRACT UNDER CHURN: after `removeVectors`, a cached seed set
    * may contain ids no longer in the store — those are dropped by the
    * same member fetch, so a stale seed set walks exactly as its
    * surviving subset (KnnStoreSpec pins the equivalence) and removed
    * ids are never served. The silent shrink is deliberate: serving
    * tiers cache seeds and must not fail on churn — but a caller whose
    * recall depends on seed COUNT should refresh seeds from the dir
    * table after removals (a point read of the seeds' shards, O(seeds)).
    */
  def beamSearch(s: SparkSession, root: String, qv: Seq[Double],
      excludeId: Long, beam: Int, rounds: Int,
      seedIds: Seq[Long]): DataFrame = {
    val qvCol = array(qv.map(lit): _*)
    val dirShards = readDirShards(s, root)
    // every read is a POINT read of the exact partition values the
    // frontier names (readPart — listing ∝ frontier, never ∝ C; the
    // plain per-round readX() calls re-listed all 31,250 member dirs at
    // 2M and the listing jobs alone were 4× the walk's read cost,
    // measured r14 Probe beamstore)
    def scoreTopB(ids: Seq[Long], b: Int): Seq[(Long, Double)] =
      if (ids.isEmpty) Seq.empty
      else {
        val homes = readPart(s, s"$root/dir", DirSchema, "shard",
            ids.map(shardOfId(_, dirShards)))
          .where(col("vec_id").isin(ids: _*))
          .select(col("home")).distinct().collect().map(_.getLong(0)).toSeq
        readPart(s, s"$root/members", MembersSchema, "bucket", homes)
          .where(col("vec_id").isin(ids: _*))
          .select(col("vec_id"),
            round(Vectors.dotFast(col("vn"), qvCol), 6).as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(b)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      }
    def neighbours(ids: Seq[Long]): Seq[Long] =
      if (ids.isEmpty) Seq.empty
      else readPart(s, s"$root/adj", AdjSchema, "shard",
          ids.map(shardOfId(_, dirShards)))
        .where(col("v").isin(ids: _*))
        .select(col("u")).distinct().collect().map(_.getLong(0)).toSeq
    var frontier = scoreTopB(seedIds.filterNot(_ == excludeId), beam)
    (1 to rounds).foreach { _ =>
      val ids = frontier.map(_._1)
      val expand = (ids ++ neighbours(ids)).distinct
        .filterNot(_ == excludeId)
      frontier = scoreTopB(expand, beam)
    }
    import s.implicits._
    frontier.sortBy(p => (-p._2, p._1)).take(10).zipWithIndex
      .map { case ((id, cos), i) => (i + 1L, id, cos) }
      .toDF("rank", "vec_id", "cos")
  }

  /** BATCH form of the store-served beam walk (r14 verdict task 3): walk
    * ALL queries of a serving batch simultaneously off the persisted
    * store. The single-query walk pays ~15 driver-scheduled jobs of
    * fixed overhead per query (SCALE.md r13 beamserve); here each round
    * issues ONE point read per table keyed by the UNION of every query's
    * frontier — per-round job count is FLAT in the batch size and read
    * volume ∝ the union frontier (≤ Q·B·(2K+1) ids), still independent
    * of corpus size. Per-query frontiers live on the driver like the
    * query vectors themselves (Q·B pairs — the serving-tier contract
    * that queries scale with SERVING load, never the corpus).
    *
    * Identical math to q_sim_graph_beam_batch (BeamSpec pins row
    * equality; the two share one oracle): per-round per-qid top-B via
    * TopKPairAgg over round(dot(vn, qv), 6); expand = frontier ∪ its
    * undirected neighbourhood; a query's own qid excluded everywhere;
    * final output ranks each query's closing frontier under
    * (cos DESC, id ASC). Scoring runs IN SPARK — the union candidate
    * members fetch (point read) joins the broadcast (qid, candidate)
    * pair list and the broadcast query frame, so the driver never
    * touches a vector beyond the Q query vectors it already holds.
    * Non-member seeds/candidates drop exactly as in beamSearch (the
    * seed-churn contract above).
    */
  def beamSearchBatch(s: SparkSession, root: String,
      queryVecs: Seq[(Long, Seq[Double])], beam: Int, rounds: Int,
      seedIds: Seq[Long]): DataFrame = {
    import s.implicits._
    val dirShards = readDirShards(s, root)
    val qFrame = queryVecs.toDF("qid", "qv")

    def scoreTopB(cand: Map[Long, Seq[Long]], b: Int)
        : Map[Long, Seq[(Long, Double)]] = {
      val unionIds = cand.valuesIterator.flatten.toSeq.distinct
      if (unionIds.isEmpty) Map.empty
      else {
        val homes = readPart(s, s"$root/dir", DirSchema, "shard",
            unionIds.map(shardOfId(_, dirShards)))
          .where(col("vec_id").isin(unionIds: _*))
          .select(col("home")).distinct().collect().map(_.getLong(0)).toSeq
        val mem = readPart(s, s"$root/members", MembersSchema, "bucket",
            homes)
          .where(col("vec_id").isin(unionIds: _*))
          .select(col("vec_id"), col("vn"))
        val pairs = cand.toSeq
          .flatMap { case (q, ids) => ids.map(i => (q, i)) }
          .toDF("qid", "vec_id")
        mem.join(broadcast(pairs), Seq("vec_id"))
          .join(broadcast(qFrame), Seq("qid"))
          .select(col("qid"), col("vec_id"),
            round(Vectors.dotFast(col("vn"), col("qv")), 6).as("cos"))
          .groupBy(col("qid"))
          .agg(graft.functions.TopKPairAgg
            .topK(col("cos"), col("vec_id"), b).as("t"))
          .select(col("qid"), explode(col("t")).as("p"))
          .select(col("qid"), col("p._2").as("vec_id"),
            col("p._1").as("cos"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .groupBy(_._1)
          .map { case (q, rs) =>
            q -> rs.map(t => (t._2, t._3)).sortBy(t => (-t._2, t._1)).toSeq
          }
      }
    }

    var frontier = scoreTopB(
      queryVecs.map { case (q, _) => q -> seedIds.filterNot(_ == q) }.toMap,
      beam)
    (1 to rounds).foreach { _ =>
      val unionIds =
        frontier.valuesIterator.flatMap(_.map(_._1)).toSeq.distinct
      val nbrs =
        if (unionIds.isEmpty) Map.empty[Long, Seq[Long]]
        else readPart(s, s"$root/adj", AdjSchema, "shard",
            unionIds.map(shardOfId(_, dirShards)))
          .where(col("v").isin(unionIds: _*))
          .select(col("v"), col("u")).distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (v, us) => v -> us.map(_._2).toSeq }
      val cand = frontier.map { case (q, fr) =>
        val ids = fr.map(_._1)
        q -> (ids ++ ids.flatMap(nbrs.getOrElse(_, Seq.empty)))
          .distinct.filterNot(_ == q)
      }
      frontier = scoreTopB(cand, beam)
    }
    frontier.toSeq.flatMap { case (q, fr) =>
      fr.take(10).zipWithIndex.map { case ((id, cos), i) =>
        (q, i + 1L, id, cos) }
    }.toDF("qid", "rank", "vec_id", "cos")
  }
}
