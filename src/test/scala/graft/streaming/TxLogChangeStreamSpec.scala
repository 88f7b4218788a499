package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.sources.TxLog

class TxLogChangeStreamSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String = {
    val f = TestSpark.tmpDir("graft_cdcstream_").toFile
    f.delete()
    f.getAbsolutePath
  }

  test("cursor advances per commit; caught-up drain delivers nothing") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(1L).toDF("x"), dir, "b1")))
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(2L).toDF("x"), dir, "b2")))
    val s = new TxLogChangeStream(spark, dir, startAfter = 0,
      maxVersionsPerBatch = 1)
    var batches = List.empty[(Int, Int, Seq[(Long, Int)])]
    val n = s.drain { (df, f, t) =>
      batches ::= ((f, t, df.select(col("x"), col("sign"))
        .as[(Long, Int)].collect().sorted.toSeq))
    }
    assert(n === 2)
    assert(s.position === 2)
    assert(batches.reverse === List(
      (0, 1, Seq((1L, 1))), (1, 2, Seq((2L, 1)))))
    assert(s.drain((_, _, _) => fail("caught up: no delivery")) === 0)
    // a third commit arrives later; the SAME subscription picks it up
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(3L).toDF("x"), dir, "b3")))
    assert(s.drain((df, _, _) =>
      assert(df.select("x").as[Long].collect().toSeq === Seq(3L))) === 1)
    TxLog.destroy(dir)
  }

  test("coalesced windows and row-less commits") {
    val dir = freshDir()
    (1 to 3).foreach { i =>
      TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(i.toLong).toDF("x"), dir, s"b$i")))
    }
    // a metadata-only commit (rename) changes no rows
    TxLog.renameColumn(spark, dir, "x", "y")
    val s = new TxLogChangeStream(spark, dir) // unbounded batch
    var seen = 0
    val n = s.drain { (df, f, t) =>
      seen += 1
      assert((f, t) === (0, 4), "one coalesced window over all commits")
      assert(df.select(col("y")).as[Long].collect().sorted.toSeq ===
        Seq(1L, 2L, 3L), "the feed serves the mapped logical schema")
    }
    assert(n === 1 && seen === 1 && s.position === 4)
    // rename alone: cursor advances, handler not invoked
    TxLog.renameColumn(spark, dir, "y", "z")
    assert(s.drain((_, _, _) => fail("metadata-only window")) === 0)
    assert(s.position === 5)
    TxLog.destroy(dir)
  }

  test("a DV delete mid-subscription arrives as signed retractions") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      (0L until 10L).toDF("x"), dir, "b0")))
    val s = new TxLogChangeStream(spark, dir, startAfter = 1)
    TxLog.deleteWhereDV(spark, dir, "dv", col("x") < 3L)
    var got = Seq.empty[(Long, Int)]
    assert(s.drain { (df, _, _) =>
      got = df.select(col("x"), col("sign")).as[(Long, Int)]
        .collect().sorted.toSeq
    } === 1)
    assert(got === Seq((0L, -1), (1L, -1), (2L, -1)),
      "merge-on-read deletes surface as -1 rows, nothing else")
    TxLog.destroy(dir)
  }
}
