package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for every suite (forked test JVM): the shared
  * graft.Session settings, pinned to 4 cores whatever SPARK_GRAFT_CPUS
  * says, with a throwaway warehouse dir.
  */
object TestSpark {
  lazy val spark: SparkSession = Session.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
