package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

import graft.{RunPipeline, SparkEntry}
import graft.ops.Graph
import graft.schema.Schemas
import graft.sources.{Loaders, Sources}

/** One benchmark process: sets up the session, then runs a workload
  * untraced (end-to-end samples) or traced (per-layer spans), and writes a
  * result JSON for run.py, which checks outputs and prints the metrics.
  *
  * Usage: perfbench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1>
  *   <seed> <cpus> <result.json>
  *   workload: open_dense | whitelist_ingest | query_mix
  *
  * Untraced, a pipeline workload times warm RunPipeline.execute calls for
  * `seconds` (at least [[MinSamples]]) after an untimed cold one, and
  * query_mix times passes over its queries for `seconds` (at least
  * [[MinSamples]]) after an untimed first pass that writes every result for
  * run.py's oracle comparison.
  */
object Main {

  /** Timed samples a run takes at least, whatever `seconds` is: the median
    * of four averages the middle two, and a fixed count keeps every run at
    * the same point of the JIT warm-up curve (later samples run faster).
    */
  val MinSamples = 4

  /** The registered queries of the query_mix workload. */
  val Mix: Seq[String] = Seq("q_dedup_lsh_quality", "q_graph_pagerank",
    "q_text_bpe", "q_sim_ann_lsh", "q_asof_join", "q_text_rollhash",
    "q_text_compress_ratio")

  private def now(): Double = System.nanoTime() / 1e9

  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, workDir, seconds, traceArg, seedArg, cpusArg, resultPath) = args
    val spark = Session.build(cpusArg.toInt)
    val counters = Counters.attach(spark)
    Session.warmup(spark)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val result: Map[String, Any] = try workload match {
      case "query_mix" =>
        val order = new scala.util.Random(seedArg.toLong).shuffle(Mix)
        if (traceArg == "1") mixTraced(spark, counters, inDir, workDir, order)
        else mixUntraced(spark, counters, inDir, workDir, order, seconds.toDouble)
      case _ =>
        val wl = Option(s"$inDir/whitelist.json").filter(p => new java.io.File(p).isFile)
        if (traceArg == "1") pipelineTraced(spark, counters, inDir, workDir, wl, workload)
        else pipelineUntraced(spark, counters, inDir, workDir, wl, seconds.toDouble)
    } finally spark.stop()
    Json.write(resultPath, result + ("setup_s" -> setupS))
  }

  /** One timed region: wall, task-seconds and the largest task peak. */
  private final case class Sample(runS: Double, taskS: Double, peakMb: Double)

  private def timed(spark: SparkSession, c: Counters)(body: => Unit): Sample = {
    Bus.drain(spark.sparkContext)
    val c0 = c.snap()
    c.takePeak()
    val t0 = now()
    body
    val wall = now() - t0
    Bus.drain(spark.sparkContext)
    Sample(wall, (c.snap() - c0).taskS, c.takePeak() / 1048576.0)
  }

  private def samples(xs: Seq[Sample]): Map[String, Any] = Map(
    "run_s" -> xs.map(_.runS), "task_s" -> xs.map(_.taskS),
    "peak_exec_mem_mb" -> xs.map(_.peakMb))

  /** RunPipeline.execute repeatedly into the same output directory: the
    * cold first execute is untimed (JIT and codegen warm-up), then executes
    * are timed until `seconds` have elapsed, at least [[MinSamples]].
    * run.py checks the sinks of the last execute.
    */
  private def pipelineUntraced(spark: SparkSession, c: Counters, inDir: String,
      workDir: String, wl: Option[String], seconds: Double): Map[String, Any] = {
    val out = s"$workDir/out"
    val errors = mutable.LinkedHashMap[String, String]()
    val xs = mutable.ArrayBuffer[Sample]()
    var attempted = 0
    def execute(): Option[Sample] = {
      attempted += 1
      spark.catalog.clearCache()
      try Some(timed(spark, c)(RunPipeline.execute(spark, inDir, out, wl)))
      catch { case e: Exception => errors(s"execute ${attempted - 1}") = e.toString; None }
    }
    val cold = execute()
    if (cold.isDefined) {
      val end = now() + seconds
      while (errors.isEmpty && (xs.size < MinSamples || now() < end)) xs ++= execute()
    }
    samples(xs.toSeq) ++ Map("attempted" -> attempted, "threw" -> errors.size,
      "errors" -> errors, "out_dir" -> out, "cold_run_s" -> cold.fold(0.0)(_.runS))
  }

  /** Runs every query once (noop sink, cache cleared before each); with
    * `results` it writes each result to parquet instead, for run.py's
    * oracle comparison. Returns the errors by query.
    */
  private def mixPass(spark: SparkSession, sfDir: String, order: Seq[String],
      results: Option[String]): Map[String, String] = {
    val errors = mutable.LinkedHashMap[String, String]()
    for (q <- order) {
      spark.catalog.clearCache()
      try {
        val df = SparkEntry.queries(q)(spark, sfDir)
        results.fold(Session.noop(df))(dir => df.write.mode("overwrite").parquet(s"$dir/$q"))
      } catch { case e: Exception => errors(q) = e.toString }
    }
    spark.catalog.clearCache()
    errors.toMap
  }

  private def mixResults(workDir: String, order: Seq[String]): Map[String, Any] = Map(
    "queries" -> order, "results_dir" -> s"$workDir/results",
    "oracle" -> order.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)

  /** An untimed first pass writes the results for run.py's oracle
    * comparison; timed noop passes follow until `seconds` have elapsed, at
    * least [[MinSamples]].
    */
  private def mixUntraced(spark: SparkSession, c: Counters, sfDir: String,
      workDir: String, order: Seq[String], seconds: Double): Map[String, Any] = {
    val errors = mutable.LinkedHashMap[String, String]() ++
      mixPass(spark, sfDir, order, Some(s"$workDir/results"))
    var threw = errors.size
    val xs = mutable.ArrayBuffer[Sample]()
    val end = now() + seconds
    do {
      var failed = Map.empty[String, String]
      xs += timed(spark, c) { failed = mixPass(spark, sfDir, order, None) }
      threw += failed.size
      errors ++= failed
    } while (xs.size < MinSamples || now() < end)
    samples(xs.toSeq) ++ mixResults(workDir, order) ++ Map(
      "attempted" -> order.size * (xs.size + 1), "threw" -> threw, "errors" -> errors,
      "passes" -> (xs.size + 1))
  }

  /** Self-time share of each layer in the traced run's root span. */
  private def shares(tr: Tracer, root: Span): Map[String, Double] = {
    val layers = Seq("sources", "loaders", "pipeline", "queries", "catalyst")
    val inRoot = tr.spans.filter(_.parent == root.id)
    layers.map(l => s"share.$l" ->
      inRoot.filter(_.layer == l).map(_.wallS).sum / root.wallS).toMap +
      ("share.harness" -> tr.selfS(root) / root.wallS)
  }

  private def sparkTotals(root: Span): Map[String, Double] = Map(
    "spark.plan_s" -> root.counts.planMs / 1e3,
    "spark.codegen_s" -> root.counts.codegenMs / 1e3,
    "spark.jobs" -> root.counts.jobs.toDouble,
    "spark.tasks" -> root.counts.tasks.toDouble)

  private def spanJson(tr: Tracer): Seq[Map[String, Any]] = tr.spans.toSeq.map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
      "run" -> s.run, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_s" -> tr.selfS(s), "counts" -> s.counts))

  private def pipelineTraced(spark: SparkSession, c: Counters, inDir: String,
      workDir: String, wl: Option[String], workload: String): Map[String, Any] = {
    def untraced(): Double = {
      spark.catalog.clearCache()
      timed(spark, c)(RunPipeline.execute(spark, inDir, s"$workDir/out", wl)).runS
    }
    untraced() // discarded warmup
    val base = math.min(untraced(), untraced())
    spark.catalog.clearCache()
    val tr = new Tracer(spark, c, s"$workload-traced")
    c.takePeak()
    val ratios = tr.span("harness", "run") {
      TracedPipeline.run(spark, inDir, s"$workDir/traced_out", wl, tr)
    }
    val root = tr.get("harness", "run")
    val m = mutable.LinkedHashMap[String, Double]() ++ ratios
    m("spark.peak_exec_mem_mb") = c.takePeak() / 1048576.0
    def wall(layer: String, name: String) =
      tr.spans.find(s => s.layer == layer && s.name == name).fold(0.0)(_.wallS)
    for (n <- Seq("scan_evidences", "scan_dims", "sink_associations", "sink_drug_disease"))
      m(s"sources.$n.wall_s") = wall("sources", n)
    m("sources.sink.mb") = Seq("sink_associations", "sink_drug_disease")
      .map(tr.get("sources", _).counts.bytesOut).sum / 1048576.0
    for (n <- Seq("evidences", "dims")) m(s"loaders.$n.wall_s") = wall("loaders", n)
    m("loaders.dims.shuffle_mb") = tr.get("loaders", "dims").counts.shuffleMb
    for (n <- Seq("network_lut", "tissue_filter", "evidence_scores", "propagate",
      "make_associations", "bundles", "decorate", "score_hypotheses"))
      m(s"pipeline.$n.wall_s") = wall("pipeline", n)
    for (n <- Seq("network_lut", "evidence_scores", "make_associations", "decorate"))
      m(s"pipeline.$n.shuffle_mb") = tr.get("pipeline", n).counts.shuffleMb
    m("pipeline.make_associations.task_s") =
      tr.get("pipeline", "make_associations").counts.taskS
    m("pipeline.spill_mb") = tr.spans.filter(_.layer == "pipeline")
      .map(_.counts.spill).sum / 1048576.0
    m ++= shares(tr, root) ++ sparkTotals(root)
    m("trace.traced_run_s") = root.wallS
    m("trace.overhead_s") = root.wallS - base

    // single-function rates, outside the traced run's root span
    m ++= Kernels.scoring(spark, tr)
    val und = Graph.undirect(Loaders.ppiEdges(
      Sources.json(spark, s"$inDir/interactions.json", Schemas.interactions)))
      .localCheckpoint()
    Session.noop(Graph.adjacency(und))
    tr.span("ops", "adjacency") { Session.noop(Graph.adjacency(und)) }
    m("ops.adjacency.wall_s") = wall("ops", "adjacency")
    Map("metrics" -> m, "spans" -> spanJson(tr), "attempted" -> 1, "threw" -> 0,
      "errors" -> Map.empty, "out_dir" -> s"$workDir/traced_out")
  }

  private def mixTraced(spark: SparkSession, c: Counters, sfDir: String,
      workDir: String, order: Seq[String]): Map[String, Any] = {
    val errors = mixPass(spark, sfDir, order, Some(s"$workDir/results"))
    def untraced(): Double = timed(spark, c)(mixPass(spark, sfDir, order, None)).runS
    val base = math.min(untraced(), untraced())
    val tr = new Tracer(spark, c, "query_mix-traced")
    val m = mutable.LinkedHashMap[String, Double]()
    c.takePeak()
    tr.span("harness", "run") {
      for (q <- order) {
        spark.catalog.clearCache()
        tr.span("queries", q) { Session.noop(SparkEntry.queries(q)(spark, sfDir)) }
      }
      spark.catalog.clearCache()
      m ++= Kernels.catalyst(spark, tr)
    }
    val root = tr.get("harness", "run")
    m("spark.peak_exec_mem_mb") = c.takePeak() / 1048576.0
    for (q <- order) {
      val s = tr.get("queries", q)
      m(s"queries.$q.wall_s") = s.wallS
      m(s"queries.$q.task_s") = s.counts.taskS
      m(s"queries.$q.jobs") = s.counts.jobs.toDouble
      m(s"queries.$q.plan_s") = s.counts.planMs / 1e3
    }
    m ++= shares(tr, root) ++ sparkTotals(root)
    val traced = order.map(q => tr.get("queries", q).wallS).sum
    m("trace.traced_run_s") = traced
    m("trace.overhead_s") = traced - base
    mixResults(workDir, order) ++ Map("metrics" -> m, "spans" -> spanJson(tr),
      "attempted" -> order.size, "threw" -> errors.size, "errors" -> errors)
  }
}
