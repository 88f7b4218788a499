package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Smoke runs of the scale scenarios at their smallest points: each
  * scenario's own `require`s run, and the row carries the fields the
  * `BENCH_SCALE.json` rows are built from. */
class ScaleSuiteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def one(scenario: String, point: Int): Map[String, Any] = {
    val rows = ScaleSuite.run(spark, scenario, Seq(point), repeat = 1)
    assert(rows.size === 1)
    val row = rows.head
    assert(row("scenario") === scenario && row("repeat") === 1)
    assert(row("cpus") === spark.sparkContext.defaultParallelism)
    row
  }

  test("listing plans a 16-dir table") {
    assert(one("listing", 16)("plan_s").asInstanceOf[Double] > 0)
  }

  test("sink probes a 64-file table") {
    assert(one("sink", 64)("live_files").asInstanceOf[Int] >= 64)
  }

  test("scan_prune plans one of 16 leaves for a point filter") {
    val row = one("scan_prune", 16)
    assert(row("leaves") === 16)
    assert(row("plan_point_files") === 1)
  }

  test("row_verbs reports each verb's job count next to its timing") {
    val rows = ScaleSuite.run(spark, "row_verbs", Nil, repeat = 1)
    assert(rows.size === 1)
    val row = rows.head
    Seq("delete", "merge", "update").foreach { v =>
      assert(row(s"${v}_s").asInstanceOf[Double] > 0, v)
      assert(row(s"${v}_rewrote") === 1, v)
      assert(row(s"${v}_jobs").asInstanceOf[Int] > 0, v)
    }
  }

  test("an unknown scenario fails with the list of scenarios") {
    val e = intercept[IllegalArgumentException](
      ScaleSuite.run(spark, "nope", Nil, repeat = 1))
    Seq("listing", "manifest", "multi_writer", "pinned_sort", "pq_recall",
      "replace_where", "row_verbs", "scan_prune", "sigstore", "sink",
      "subscription").foreach(n => assert(e.getMessage.contains(n), n))
  }
}
