package graft

import org.scalatest.funsuite.AnyFunSuite

/** The suites run on the session every main builds ([[graft.core.Graft.session]]),
  * so they see the configuration the benchmark harness times. */
class SessionContractSpec extends AnyFunSuite {
  test("TestSpark carries the benchmark harness's session keys") {
    val conf = TestSpark.spark.sparkContext.getConf
    Map(
      "spark.master" -> "local[4]",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
    ).foreach { case (k, v) => assert(conf.getOption(k).contains(v), k) }
    // the per-JVM temp warehouse still reaches the session
    assert(TestSpark.spark.conf.get("spark.sql.warehouse.dir").contains("graft-warehouse"))
  }
}
