package graft

/** Plan audit: one line per query summarizing the physical plan — join
  * strategies, exchange count, scan pushdown — to spot the plans that need
  * iteration (SMJ on a dimension table, missing pushdown, accidental
  * cartesian). Run: `runMain graft.PlanAudit [sfDir]`.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.start("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        def n(s: String) = plan.sliding(s.length).count(_ == s)
        val flags = Seq(
          "BroadcastHashJoin" -> n("BroadcastHashJoin"),
          "SortMergeJoin" -> n("SortMergeJoin"),
          "ShuffledHashJoin" -> n("ShuffledHashJoin"),
          "BNLJoin" -> n("BroadcastNestedLoopJoin"),
          "Cartesian" -> n("CartesianProduct"),
          "Exchange" -> n("Exchange "),
          "PushedFilters≠[]" -> n("PushedFilters: ["),
          "WSCodegen" -> n("WholeStageCodegen")
        ).collect { case (k, v) if v > 0 => s"$k=$v" }
        println(s"AUDIT $name :: ${flags.mkString(" ")}")
      } catch {
        case e: Throwable => println(s"AUDIT $name :: ERROR ${e.getMessage.take(80)}")
      }
    }
    spark.stop()
  }
}
