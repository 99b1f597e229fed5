package graft

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization-round evidence trail (plans/rN/<query>_{before,after}.txt).
  * Run: `runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>`.
  * The session is Bench's (graft.Session), so at the same
  * SPARK_GRAFT_CPUS the dumped plan is the benched plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val spark = Session.start("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.split(',').map(_.trim).filter(_.nonEmpty).foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"DUMPED $name -> $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        println(s"DUMP_ERROR $name: ${e.getMessage.take(120)}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
