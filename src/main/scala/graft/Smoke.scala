package graft

import org.apache.spark.sql.graft.RunMetrics

/** Local smoke runner: replicates the driver's entry() check (rows > 0 on
  * sf0.001) and optionally runs comma-separated named queries:
  * `runMain graft.Smoke [name,... [sfDir [runs]]]`. Each run times a noop
  * write and prints its wall, job, task, task-second, shuffle-write and
  * spill counts; one untimed count() after the runs prints the rows.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.start("ERROR")
    args.headOption match {
      case None =>
        val df = SparkEntry.entry(spark)
        println(s"ENTRY_ROWS=${df.count()}")
        df.show(5, truncate = false)
      case Some(names) =>
        val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
        // comma-separated names share one JVM/session: batch smokes would
        // otherwise pay ~30 s of sbt+JVM+session startup PER query
        val queries = names.split(',').map(_.trim).filter(_.nonEmpty)
        // Validate up front (mirrors Bench): a typo'd name would otherwise
        // throw a bare NoSuchElementException AFTER earlier queries ran.
        val unknown = queries.toSet -- SparkEntry.queries.keySet
        require(unknown.isEmpty,
          s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
        def mb(bytes: Long) = String.format(java.util.Locale.ROOT, "%.2f",
          Double.box(bytes / 1048576.0))
        queries.foreach { name =>
          // construct INSIDE the timing loop: for lazy queries that's plan
          // building (microseconds); for eager ones (corpus_prepare's
          // checkpointed components) construction IS the work. The timed
          // action is the Bench protocol's noop write, which materializes
          // EVERY column: count() prunes unreferenced ones, so assign- and
          // digest-style queries time as ~0 under it (merkle measured
          // 0.65 s "at sf10" that way; the digests never ran)
          var df: org.apache.spark.sql.DataFrame = null
          for (run <- 1 to args.lift(2).map(_.toInt).getOrElse(1)) {
            // counters ride on the run's own jobs: JOBS (driver-scheduled
            // actions), TASKS and TASKSEC (summed executor run time) tell a
            // driver-bound run (many jobs, little task time) from a
            // compute-bound one; SHW and SPILL are MB; CGEN counts the
            // classes Janino compiled (codegen cache misses). SEC stays
            // the body's wall, without the listener-bus drain.
            val (sec, m) = RunMetrics.measure(spark) {
              val t0 = System.nanoTime()
              df = SparkEntry.queries(name)(spark, sfDir)
              df.write.mode("overwrite").format("noop").save()
              (System.nanoTime() - t0) / 1e9
            }
            println(s"QUERY=$name RUN=$run SEC=$sec JOBS=${m.jobs} " +
              s"TASKS=${m.tasks} TASKSEC=${m.taskSeconds} " +
              s"SHW=${mb(m.shuffleWriteBytes)} SPILL=${mb(m.spillBytes)} " +
              s"CGEN=${m.codegenCompiles}")
          }
          // the row count is one untimed action after the timed runs
          println(s"QUERY=$name ROWS=${df.count()}")
          // cached frames from one query must not distort the next (same
          // lesson as Bench); single-query runs keep the full plan dump
          spark.catalog.clearCache()
          if (queries.length == 1) {
            df.show(10, truncate = false)
            df.explain("formatted")
          }
        }
    }
    spark.stop()
  }
}
