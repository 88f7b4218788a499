package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** BPE vocabulary induction on the classic toy corpus, with the merge
  * sequence computed by hand under (count desc, pair asc) tie-breaking. */
class BpeOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // 3x"low", 2x"lower", 4x"newest", 1x"widest" — the textbook BPE fixture
  private val docs = Seq(
    "low low low", "lower lower", "newest newest newest newest", "widest")
    .toDF("text")

  test("wordCounts reduces the corpus to weighted distinct words") {
    val w = BpeOps.wordCounts(docs, col("text"))
      .as[(String, Long)].collect().toMap
    assert(w == Map("low" -> 3L, "lower" -> 2L, "newest" -> 4L, "widest" -> 1L))
  }

  test("corpusPairCounts matches hand counts") {
    val p = BpeOps.corpusPairCounts(docs, col("text"))
      .as[(String, Long)].collect().toMap
    // "we" in newest(4) + lower(2); "es" in newest(4) + widest(1);
    // "lo" in low(3) + lower(2)
    assert(p("w e") == 6L)
    assert(p("e s") == 5L)
    assert(p("l o") == 5L)
    assert(p("s t") == 5L)
    assert(p("o w") == 5L)
    assert(p("n e") == 4L) // "ne" of newest only (4)
    assert(p("w i") == 1L)
  }

  test("trainMerges follows the deterministic argmax sequence") {
    val m = BpeOps.trainMerges(docs, col("text"), k = 4)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    // r1: "w e"=6 wins outright. r2: "l o" and "s t" tie at 5, pair asc ->
    // "l o". r3: "s t"=5. r4: "e we"/"n e"/"we st" tie at 4, asc -> "e we".
    assert(m(0) == ((1, "w", "e", 6L)))
    assert(m(1) == ((2, "l", "o", 5L)))
    assert(m(2) == ((3, "s", "t", 5L)))
    assert(m(3) == ((4, "e", "we", 4L)))
  }

  test("trainMerges leaves nothing pinned, even at k = 0") {
    val sc = spark.sparkContext
    Seq(0, 3).foreach { k =>
      val before = sc.getPersistentRDDs.keySet
      val (merges, jobs) = org.apache.spark.sql.graftbridge.SqlBridge.jobsOf(spark)(
        BpeOps.trainMerges(docs, col("text"), k))
      merges.collect()
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty, s"k = $k")
      if (k == 0) assert(jobs == 0, "k = 0 starts no Spark job")
    }
  }

  test("tokenCounts applies merges in order; repeated-symbol runs merge left-greedy") {
    val merges = BpeOps.trainMerges(docs, col("text"), k = 4)
      .as[(Int, String, String, Long)].collect().sortBy(_._1)
      .map(r => (r._2, r._3)).toSeq
    val toks = BpeOps.tokenCounts(docs, col("text"), merges)
      .as[(String, Long)].collect().toMap
    // low x3 -> [lo, w]; lower x2 -> [lo, we, r]; newest x4 -> [n, ewe, st];
    // widest x1 -> [w, i, d, e, st]
    assert(toks("lo") == 5L)
    assert(toks("st") == 5L)
    assert(toks("ewe") == 4L)
    assert(toks("w") == 4L) // low(3) + widest(1)
    // greedy left-to-right on a run: "aaaa" with merge (a,a) -> "aa","aa"
    val run = Seq("aaaa").toDF("text")
    val runToks = BpeOps.tokenCounts(run, col("text"), Seq(("a", "a")))
      .as[(String, Long)].collect().toMap
    assert(runToks == Map("aa" -> 2L))
  }
}
