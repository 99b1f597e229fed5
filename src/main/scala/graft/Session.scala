package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession's conf is decided. Catalyst's
  * extension points live in the session, so the conf is part of every
  * plan: a main that builds its own session benches, dumps or verifies a
  * different plan from the others. Every main and the test session start
  * from `builder()`; SessionSpec pins `conf` key by key.
  */
object Session {

  /** The shared settings; `SPARK_GRAFT_CPUS` (default 4) sizes the local
    * master and the shuffle partition count alike.
    */
  def conf: Map[String, String] = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      // UTC pins the TimestampNTZ→Timestamp cast in Core.table: without it a
      // non-UTC machine would run different plans/values than the tests.
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // object-agg sort fallback stays at Spark's spill-safe default;
      // bounded-buffer udafs get hash mode per-operator via the
      // BoundedAggFallback query-stage prep rule (GraftExtensions)
      "spark.sql.extensions" -> "graft.GraftExtensions",
      // the nanos vintage of events.parquet reads as long (Core.table)
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // bucketed scans report their sortBy ordering, so a bucketed
      // sort-merge join needs no Sort (PlanShapeSpec)
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")
  }

  /** A builder carrying `conf`; callers may layer settings on top. */
  def builder(): SparkSession.Builder = SparkSession.builder().config(conf)

  /** The shared session with the driver log level set. */
  def start(logLevel: String): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
