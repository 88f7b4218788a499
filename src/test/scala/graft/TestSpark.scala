package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (multiple SparkContexts in one
  * JVM are not supported; Test/fork gives the suite JVM its own), built by
  * the same factory as every main, pinned to 4 cores and 4 partitions. */
object TestSpark {
  lazy val spark: SparkSession = {
    // a private warehouse per suite JVM: SparkConf picks up spark.* system
    // properties
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    val s = graft.core.Graft.session("graft-test", cpus = 4, shufflePartitions = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
