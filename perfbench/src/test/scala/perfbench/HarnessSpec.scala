package perfbench

import java.io.File
import java.security.MessageDigest

import org.apache.spark.SparkConf
import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.RunPipeline

/** Registered through `spark.extraListeners` to capture the SparkConf a
  * session was built with.
  */
class ConfCapture(conf: SparkConf) extends SparkListener {
  ConfCapture.captured = conf.getAll.toMap
}

object ConfCapture {
  @volatile var captured: Map[String, String] = Map.empty
}

/** The harness must measure the shipped program: its session is the one
  * RunPipeline.main builds, and the traced stage-by-stage composition
  * writes exactly the sinks RunPipeline.execute writes.
  */
class HarnessSpec extends AnyFunSuite {

  private val benchDir = new File(sys.props("perfbench.dir"))
  private val work = new File(benchDir, "target/spec-work").getAbsolutePath
  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Small inputs from the benchmark's own generator. */
  private def generate(workload: String): String = {
    val dir = s"$work/$workload-in"
    val code = s"import sys; sys.dont_write_bytecode = True; import gen; " +
      s"gen.pipeline_inputs('$dir', '$workload', 3, 0.2)"
    val rc = new ProcessBuilder("python3", "-c", code).directory(benchDir)
      .inheritIO().start().waitFor()
    assert(rc == 0, s"input generation failed for $workload")
    dir
  }

  // Settings that name the running application or its ports, not its
  // configuration.
  private val perProcess = Set("spark.app.id", "spark.app.name", "spark.app.startTime",
    "spark.app.submitTime", "spark.driver.host", "spark.driver.port", "spark.executor.id",
    "spark.extraListeners")

  test("the benchmark session has exactly RunPipeline.main's settings") {
    val in = generate("open_dense")
    sys.props("spark.extraListeners") = classOf[ConfCapture].getName
    try RunPipeline.main(Array(in, s"$work/main-out"))
    finally sys.props.remove("spark.extraListeners")
    val shipped = ConfCapture.captured -- perProcess
    assert(shipped.contains("spark.sql.extensions"))
    val spark = Session.build(cpus)
    val bench = spark.sparkContext.getConf.getAll.toMap -- perProcess
    assert(bench == shipped)
  }

  /** Order-insensitive content: array elements sorted at every level. */
  private def canon(c: Column, dt: DataType): Column = dt match {
    case ArrayType(et, _) => sort_array(transform(c, x => canon(x, et)))
    case StructType(fs) => when(c.isNotNull,
      struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  /** DrugDisease.drugsForDisease carries each disease's aggregation id
    * lists with first() (as the reference does, sc:398-399): when a disease
    * has several aggregation rows, which row is first depends on the
    * physical plan, so these columns are not comparable between two plans.
    */
  private val firstOfGroup = Set("associated_disease_ids", "associated_target_ids",
    "associated_disease_ids_from_disease_drug_agg", "associated_target_ids_from_disease_drug_agg")

  private def digest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.filterNot(f => firstOfGroup(f.name)).sortBy(_.name)
      .toIndexedSeq.map(f => canon(col(f.name), f.dataType).as(f.name))
    val rows = df.select(to_json(struct(cols: _*))).collect().map(_.getString(0)).sorted
    val sha = MessageDigest.getInstance("SHA-256").digest(rows.mkString("\n").getBytes("UTF-8"))
    (rows.length.toLong, sha.map("%02x".format(_)).mkString)
  }

  private def sinks(spark: SparkSession, out: String) = Seq(
    digest(spark.read.parquet(s"$out/associations")),
    digest(spark.read.json(s"$out/drug_disease")))

  for (workload <- Seq("open_dense", "whitelist_ingest"))
    test(s"the traced composition writes RunPipeline.execute's sinks ($workload)") {
      val spark = Session.build(cpus)
      val in = generate(workload)
      val wl = Option(s"$in/whitelist.json").filter(p => new File(p).isFile)
      assert(wl.isDefined == (workload == "whitelist_ingest"))
      RunPipeline.execute(spark, in, s"$work/$workload-shipped", wl)
      spark.catalog.clearCache()
      val tr = new Tracer(spark, Counters.attach(spark), "spec")
      TracedPipeline.run(spark, in, s"$work/$workload-traced", wl, tr)
      val shipped = sinks(spark, s"$work/$workload-shipped")
      assert(shipped.forall(_._1 > 0), s"empty sink: $shipped")
      assert(sinks(spark, s"$work/$workload-traced") == shipped)
      assert(tr.spans.map(_.layer).toSet == Set("sources", "loaders", "pipeline"))
    }
}
