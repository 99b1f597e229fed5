package graft

/** graft.Session decides the conf of every main's session and of the test
  * session. These pins hold it to the settings Bench and Verify built by
  * hand before the factory existed; a change to any of them is a change
  * to every benched, dumped and verified plan.
  */
class SessionSpec extends SparkSpec {
  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  test("the factory's conf is Bench's and Verify's, key by key") {
    val expected = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")
    assert(Session.conf.keySet == expected.keySet)
    expected.foreach { case (k, v) => assert(Session.conf(k) == v, k) }
  }

  test("the test session carries every factory setting it does not override") {
    val live = spark.sparkContext.getConf
    (Session.conf -- Set("spark.master", "spark.sql.shuffle.partitions"))
      .foreach { case (k, v) => assert(live.get(k) == v, k) }
    assert(live.get("spark.master") == "local[4]")
    assert(live.get("spark.sql.shuffle.partitions") == "4")
  }
}
