package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The round loop's pin/release contract: only the last round survives
  * it, and nothing it pinned survives an exception. */
class CheckpointsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val rows = count(lit(1)).as("c")

  test("iterate stops once done holds and leaves only the last round pinned") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (init, seen0) = Checkpoints.pin(Seq(1L, 2L, 3L).toDF("x"), rows)
    val seenBySteps = scala.collection.mutable.ArrayBuffer.empty[Any]
    // each round drops the 1 and shifts the rest down: 3, 2, 1, 0, 0 rows
    val out = Checkpoints.iterate(init, seen0, 10, rows)(
        (prev, next) => prev("c") == next("c")) { (state, seen) =>
      seenBySteps += seen("c")
      state.filter(col("x") > 1).select((col("x") - 1).as("x"))
    }
    assert(seenBySteps.toSeq === Seq(3L, 2L, 1L, 0L))
    assert(out.count() === 0)
    assert((sc.getPersistentRDDs.keySet -- before).size === 1,
      "only the last round stays pinned")
    Checkpoints.release(out)
  }

  test("iterate releases every round it pinned when a step throws") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (init, seen0) = Checkpoints.pin(Seq(1L, 2L, 3L).toDF("x"), rows)
    var steps = 0
    val e = intercept[IllegalStateException] {
      Checkpoints.iterate(init, seen0, 5, rows)((_, _) => false) { (state, _) =>
        steps += 1
        if (steps == 2) throw new IllegalStateException("round 2 fails")
        state.select((col("x") + 1).as("x"))
      }
    }
    assert(e.getMessage === "round 2 fails")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "a failed loop leaves none of its pins behind")
  }
}
