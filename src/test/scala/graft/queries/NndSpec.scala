package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The NN-Descent refinement round (q_sim_knn_graph_nnd) is a candidate
  * SUPERSET of its probe-2 base graph, which yields two theorems the spec
  * pins as measurements:
  *
  *  1. per-(vector, rank) scores are monotone — the k-th best over a
  *     candidate superset is >= the k-th best over the subset;
  *  2. recall against the global-truth top-3 is monotone — a base edge in
  *     the global top-3 can only be displaced from the refined top-3 by
  *     other global-top-3 members (which are then hits themselves).
  *
  * A violation of either is a real defect in the hop expansion, the
  * candidate dedup, or the tie-break contract — never fixture noise.
  */
class NndSpec extends SparkSpec {
  private val dir =
    sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")

  /** Strict-improvement assertions (recall strictly up, new edges exist)
    * are properties of the DEFAULT fixture, where probe-2 recall is far
    * from saturated — on an arbitrary fixture a correct implementation
    * may already be at the global optimum and improve nothing. The
    * monotone (>=) theorems hold everywhere.
    */
  // normalized-basename match (not raw string equality): a trailing slash
  // or a symlinked SPARK_GRAFT_FIXTURE_DIR naming the same sf0.001 data
  // must not silently downgrade the strict-improvement assertions to the
  // weak monotone-only checks (r12 ADVICE)
  private val strictFixture =
    java.nio.file.Paths.get(dir).toAbsolutePath.normalize
      .getFileName.toString == "sf0.001"

  private lazy val base =
    SimSearch.queries("q_sim_knn_graph_trained2")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
  private lazy val nnd =
    SimSearch.queries("q_sim_knn_graph_nnd")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))

  test("output is well-formed: contiguous ranks, no self edges, no " +
    "duplicate neighbours per vector") {
    assert(nnd.nonEmpty)
    nnd.groupBy(_._1).foreach { case (v, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq,
        s"vector $v has non-contiguous ranks")
      assert(rows.forall(_._3 != v), s"vector $v lists itself")
      assert(rows.map(_._3).distinct.length == rows.length,
        s"vector $v repeats a neighbour")
    }
  }

  test("per-(vector, rank) scores and edge counts are monotone over the " +
    "probe-2 base") {
    assert(nnd.length >= base.length,
      s"refined graph lost edges: ${nnd.length} < ${base.length}")
    val refined = nnd.map(r => (r._1, r._2) -> r._4).toMap
    base.foreach { case (v, rank, _, cos) =>
      val rc = refined.getOrElse((v, rank),
        fail(s"base edge ($v, rank $rank) has no refined counterpart"))
      assert(rc >= cos,
        s"rank-$rank score regressed for vector $v: $rc < $cos")
    }
  }

  test("recall is monotone: the NND round never scores below probe-2 on " +
    "the same fixture") {
    def recallOf(q: String): Double = {
      val r = SimSearch.queries(q)(spark, dir).collect().head
      r.getAs[Double]("recall")
    }
    val r2 = recallOf("q_sim_knn_recall_trained2")
    val rn = recallOf("q_sim_knn_recall_nnd")
    assert(rn >= r2, s"NND recall $rn below probe-2's $r2")
    // the round must also DO something — but only on the default fixture,
    // where probe-2 is measured far from saturation (if it ever stops
    // improving THERE, the hop join or the union degenerated)
    if (strictFixture)
      assert(rn > r2, s"NND recall $rn identical to probe-2's — refinement " +
        "added nothing on a fixture where it measurably should")
  }

  test("rounds compose: two-round recall is monotone over one round, " +
    "which is monotone over probe-2") {
    def recallOf(q: String): Double =
      SimSearch.queries(q)(spark, dir).collect().head.getAs[Double]("recall")
    val r1 = recallOf("q_sim_knn_recall_nnd")
    val r2 = recallOf("q_sim_knn_recall_nnd2")
    assert(r2 >= r1, s"round-2 recall $r2 below round-1's $r1 — the " +
      "composed round lost edges it is a superset of")
    val r3 = recallOf("q_sim_knn_recall_nnd3")
    assert(r3 >= r2, s"round-3 recall $r3 below round-2's $r2 — the " +
      "composed round lost edges it is a superset of")
  }

  test("ladder queries run no more driver jobs than their pinned counts") {
    // one shared broadcast index per query and a checkpoint per round
    // past the first are job-count properties: a dropped shared index
    // adds a collect, an extra per-round checkpoint adds its jobs. The
    // pins are the counts the ladder ran before it moved onto one graph
    // builder (noop write, this test session, caches cleared).
    val pinned = Map(
      "q_sim_knn_recall_nnd" -> 38L,
      "q_sim_knn_recall_nnd2" -> 51L,
      "q_sim_knn_recall_nnd3" -> 62L,
      "q_sim_knn_recall_tuned" -> 38L,
      "q_sim_knn_nnd_converge" -> 66L)
    pinned.foreach { case (q, maxJobs) =>
      spark.catalog.clearCache()
      val (_, m) = org.apache.spark.sql.graft.RunMetrics.measure(spark) {
        SimSearch.queries(q)(spark, dir)
          .write.mode("overwrite").format("noop").save()
      }
      assert(m.jobs <= maxJobs, s"$q ran ${m.jobs} jobs, pinned at $maxJobs")
    }
  }

  test("the beyond-broadcast sharded verify path is output-identical: " +
    "shardThreshold=1 forces it and every row matches the broadcast path") {
    val base = SimSearch.queries("q_sim_knn_graph_trained2")(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // threshold n/2 → a 2×2 shard grid (threshold 1 would build an n²
    // union of branches — the R² fan-out is the documented trade)
    val n = SimSearch.embeds(spark, dir).count()
    val sharded = rows(SimSearch.nndRound(spark, dir, base, 3,
      shardThreshold = math.max(1L, n / 2)))
    assert(sharded == nnd.toSet)
    assert(sharded.nonEmpty)
  }

  test("convergence certificate is well-formed and the stopping rule is " +
    "honest: contiguous rounds, stop-on-zero, monotone edge counts") {
    val cert = SimSearch.queries("q_sim_knn_nnd_converge")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(cert.nonEmpty)
    assert(cert.map(_._1).toSeq == (1L to cert.length).toSeq,
      s"rounds not contiguous: ${cert.mkString(", ")}")
    // a round only RAN because every earlier round added edges
    cert.init.foreach { case (r, nNew, _) =>
      assert(nNew > 0, s"round ${r + 1} ran after round $r added nothing")
    }
    // the graph never loses edges (supersets all the way down)
    cert.sliding(2).foreach {
      case Array((_, _, e1), (_, _, e2)) =>
        assert(e2 >= e1, s"edge count regressed: $e1 -> $e2")
      case _ =>
    }
    // refinement does something on the strict fixture
    if (strictFixture) assert(cert.head._2 > 0)
  }

  test("new edges beyond the base are genuine two-hop discoveries with " +
    "higher scores than what they displaced") {
    val baseEdges = base.map(r => (r._1, r._3)).toSet
    val newEdges = nnd.filterNot(r => baseEdges.contains((r._1, r._3)))
    if (strictFixture)
      assert(newEdges.nonEmpty, "no new edges — expansion degenerated")
    // every displaced base edge was outscored: for each vector with a new
    // edge at rank r, the base edge that held rank K must score <= the
    // refined rank-K score (already covered by monotonicity); here pin
    // that new edges only APPEND when a vector had fewer than K base
    // edges or REPLACE strictly-lower-scoring ones
    val baseByV = base.groupBy(_._1)
    newEdges.groupBy(_._1).foreach { case (v, rows) =>
      val bmin = baseByV.get(v).map(_.map(_._4).min)
      val bcnt = baseByV.get(v).map(_.length).getOrElse(0)
      rows.foreach { case (_, _, nbr, cos) =>
        assert(bcnt < 3 || bmin.forall(cos >= _),
          s"new edge ($v,$nbr) cos $cos entered below base minimum $bmin")
      }
    }
  }
}
