package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** MAD outliers, chi-square, and token entropy against hand computations. */
class StatsOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("madOutliers: median survives the outlier, z-score would not") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 100.0))
      .toDF("g", "x")
    val out = QualityOps.madOutliers(df, col("g"), col("x"))
      .as[(String, Double, Double, Long, Long)].collect().toSeq
    // median 3, devs [2,1,0,1,97] -> mad 1 -> only 97 exceeds 3*mad
    assert(out === Seq(("a", 3.0, 1.0, 5L, 1L)))
  }

  test("chiSquare: perfect dependence on a 2x2 diagonal") {
    val rows = Seq.fill(10)(("a1", "b1")) ++ Seq.fill(10)(("a2", "b2"))
    val out = QualityOps.chiSquare(rows.toDF("a", "b"), col("a"), col("b"))
      .as[(Long, Long, Long)].collect().head
    // e=5 in every cell: chi2 = 4 * 25/5 = 20
    assert(out === ((20L, 1L, 20000000L)))
  }

  test("chiSquare: null-category rows are excluded from n and margins") {
    val rows = Seq(("a1", "b1"), ("a1", "b1"), ("a2", "b2"), ("a2", "b2"),
      (null, "b1"), ("a1", null))
    val out = QualityOps.chiSquare(rows.toDF("a", "b"), col("a"), col("b"))
      .as[(Long, Long, Long)].collect().head
    // only the 4 fully-labeled rows participate: perfect 2x2 dependence
    assert(out._1 === 4L && out._2 === 1L && out._3 === 4000000L)
  }

  test("chiSquare: independence gives zero") {
    val rows = for (a <- Seq("a1", "a2"); b <- Seq("b1", "b2"); _ <- 1 to 5)
      yield (a, b)
    val out = QualityOps.chiSquare(rows.toDF("a", "b"), col("a"), col("b"))
      .as[(Long, Long, Long)].collect().head
    assert(out === ((20L, 1L, 0L)))
  }

  test("tokenEntropy: uniform two-token corpus scores ln 2") {
    val df = Seq(("s", "a a b b")).toDF("src", "text")
    val out = CorpusOps.tokenEntropy(df, col("src"), col("text"))
      .as[(String, Long, Long, Long)].collect().head
    // two terms of -0.5*ln(0.5) -> floor(346573590.28) each
    assert(out === (("s", 4L, 2L, 693147180L)))
  }

  test("tokenEntropy: single-token source has zero entropy") {
    val df = Seq(("s", "a a a a")).toDF("src", "text")
    val out = CorpusOps.tokenEntropy(df, col("src"), col("text"))
      .as[(String, Long, Long, Long)].collect().head
    assert(out === (("s", 4L, 1L, 0L)))
  }

  test("skipgramPairs: window-1 pairs of a 3-token doc, both directions") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val out = CorpusOps
      .skipgramPairs(df, col("doc_id"), col("text"), window = 1, minPair = 1)
      .orderBy("w1", "w2").as[(String, String, Long)].collect().toSeq
    assert(out === Seq(("a", "b", 1L), ("b", "a", 1L), ("b", "c", 1L), ("c", "b", 1L)))
  }

  test("skipgramPairs: window 2 reaches over one token; support floor prunes") {
    val df = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val out = CorpusOps
      .skipgramPairs(df, col("doc_id"), col("text"), window = 2, minPair = 3)
      .as[(String, String, Long)].collect().toSeq
    // (a,b): positions (0,1),(0,2 is a),(2,3),(0? ) -> a@0->b@1, a@0->b@3? dist 3 no,
    // a@2->b@1, a@2->b@3 => 3; symmetric for (b,a)
    assert(out.toSet === Set(("a", "b", 3L), ("b", "a", 3L)))
  }

  test("bm25 matches the hand-evaluated formula") {
    val df = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    val out = CorpusOps.bm25(df, col("doc_id"), col("text"), Seq("x"))
      .as[(Long, Long, Long)].collect().toSeq
    // N=2, df_x=1, idf=ln(2.5/1.5+1); tf=2, dl=3, avgdl=2.5
    val idf = math.log((2.0 - 1 + 0.5) / (1 + 0.5) + 1.0)
    val denom = 2.0 + 1.2 * ((1.0 - 0.75) + 0.75 * 3.0 / 2.5)
    val e6 = math.floor(idf * 2.0 * (1.2 + 1.0) / denom * 1e6 + 0.5).toLong
    assert(out === Seq((1L, 1L, e6)))
  }

  test("bm25: a rarer term outscores a common one at equal tf") {
    val docs = Seq((1L, "rare common"), (2L, "common filler"), (3L, "common pad"))
      .toDF("doc_id", "text")
    // doc 1 matches both terms; docs 2-3 match only 'common'
    val scores = CorpusOps.bm25(docs, col("doc_id"), col("text"), Seq("rare", "common"))
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    assert(scores(0)._2 == 2L && scores(1)._2 == 1L && scores(2)._2 == 1L)
    assert(scores(0)._3 > scores(1)._3)
  }

  test("snapshotDiff classifies keys and counts per-column changes null-safely") {
    val before = Seq(
      (1L, Option("a"), Option(10L)), (2L, Option("b"), Option(20L)),
      (3L, Option("c"), Option(30L)), (4L, Option.empty[String], Option(40L))
    ).toDF("k", "name", "price")
    val after = Seq(
      (2L, Option("b"), Option(20L)),   // unchanged
      (3L, Option("c"), Option(31L)),   // price changed
      (4L, Option("x"), Option(40L)),   // NULL -> value counts as a change
      (5L, Option("e"), Option(50L))    // added
    ).toDF("k", "name", "price")        // key 1 removed
    val out = QualityOps.snapshotDiff(before, after, "k", Seq("name", "price"))
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      ("added", 1L, 5L, 0L, 0L),
      ("changed", 2L, 7L, 1L, 1L),
      ("removed", 1L, 1L, 0L, 0L),
      ("unchanged", 1L, 2L, 0L, 0L)))
  }

  test("cmsBuild/cmsEstimate: deterministic grid, never underestimates") {
    val toks = (Seq.fill(5)("alpha") ++ Seq.fill(3)("beta") ++ Seq("gamma"))
      .toDF("tok")
    val sk = StatsOps.cmsBuild(toks, col("tok"), depth = 3, width = 256)
    val keys = Seq("alpha", "beta", "gamma", "absent").toDF("tok")
    val est = StatsOps.cmsEstimate(sk, keys, col("tok"), depth = 3,
        width = 256)
      .as[(String, Long)].collect().toMap
    assert(est("alpha") >= 5L && est("beta") >= 3L && est("gamma") >= 1L)
    // 4 keys in a 3x256 grid: md5 positions collide with prob ~0 and the
    // grid is deterministic, so the estimates are exact here
    assert(est === Map("alpha" -> 5L, "beta" -> 3L, "gamma" -> 1L,
      "absent" -> 0L))
  }

  test("cmsBuild/cmsEstimate drop null keys") {
    val toks = Seq(Some("a"), None, Some("a"), None, None).toDF("tok")
    val sk = StatsOps.cmsBuild(toks, col("tok"), depth = 2, width = 64)
    // a null key has no bucket: each sketch row counts only the two "a"s
    val perRow = sk.groupBy("r").agg(sum("cnt").cast("long"))
      .as[(Int, Long)].collect().toMap
    assert(perRow === Map(0 -> 2L, 1 -> 2L))
    val est = StatsOps.cmsEstimate(sk, toks, col("tok"), depth = 2,
      width = 64).as[(String, Long)].collect().toSeq
    assert(est === Seq(("a", 2L)), "a null probe key yields no estimate row")
  }

  test("cms linearity: a signed retraction delta folds to the from-scratch grid") {
    val before = Seq("a", "a", "a", "b", "b", "c").toDF("tok")
      .withColumn("sign", lit(1))
    val retract = Seq("a", "c").toDF("tok").withColumn("sign", lit(-1))
    val after = Seq("a", "a", "b", "b").toDF("tok")
      .withColumn("sign", lit(1))
    def grid(df: org.apache.spark.sql.DataFrame) =
      StatsOps.cmsBuild(df, col("tok"), depth = 2, width = 64,
        weight = col("sign"))
    val maintained = StatsOps.cmsMerge(grid(before), grid(retract))
    val scratch = grid(after)
    assert(maintained.exceptAll(scratch).isEmpty &&
      scratch.exceptAll(maintained).isEmpty,
      "counter-wise signed fold must equal the rebuild exactly")
    // c is fully retracted: its counters zeroed and DROPPED by the merge
    val estC = StatsOps.cmsEstimate(maintained, Seq("c").toDF("tok"),
      col("tok"), depth = 2, width = 64).as[(String, Long)].collect()
    assert(estC.toSeq === Seq(("c", 0L)))
  }
}
