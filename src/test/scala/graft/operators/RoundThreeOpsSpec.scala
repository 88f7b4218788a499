package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Round-3 surface: bucketed range join, TF-IDF, embedding centroids,
  * named side outputs, XML-delimited records. */
class RoundThreeOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("rangeJoin matches every interval containing the point, exactly once") {
    val points = Seq((1L, 5.0), (2L, 10.0), (3L, 99.0)).toDF("id", "p")
    // overlapping intervals; bucket width much smaller than the spans so
    // every interval replicates across several buckets
    val ivals = Seq(("a", 0.0, 10.0), ("b", 4.0, 6.0), ("c", 9.0, 20.0))
      .toDF("name", "lo", "hi")
    val out = JoinOps.rangeJoin(points, ivals, "p", "lo", "hi", bucketWidth = 2.0)
      .select("id", "name").as[(Long, String)].collect().toSet
    // p=5 is in a and b; p=10 is in a (inclusive hi) and c; p=99 in none
    assert(out == Set((1L, "a"), (1L, "b"), (2L, "a"), (2L, "c")))
  }

  test("rangeJoin emits no duplicate pairs despite interval replication") {
    val points = Seq((1L, 50.0)).toDF("id", "p")
    val ivals = Seq(("wide", 0.0, 100.0)).toDF("name", "lo", "hi")
    // interval spans 100 buckets; the single point must still match once
    val out = JoinOps.rangeJoin(points, ivals, "p", "lo", "hi", bucketWidth = 1.0)
    assert(out.count() == 1)
  }

  test("rangeJoin plans an equi-join, never BroadcastNestedLoop, at scale") {
    // the whole point of the bucketing: with broadcast off (both sides
    // "large"), a raw BETWEEN join would fall to BNLJ; ours must not
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val points = spark.range(0, 1000)
        .selectExpr("id", "CAST(id % 97 AS DOUBLE) AS p")
      val ivals = spark.range(0, 100)
        .selectExpr("id AS iid", "CAST(id AS DOUBLE) AS lo",
          "CAST(id + 5 AS DOUBLE) AS hi")
      val plan = JoinOps.rangeJoin(points, ivals, "p", "lo", "hi", 5.0)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)
      assert(!plan.contains("BroadcastNestedLoop"), plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("tfIdfTopTerms ranks distinguishing terms above ubiquitous ones") {
    val docs = Seq(
      (1L, "common common apple"),
      (2L, "common banana banana"),
      (3L, "common cherry")).toDF("doc_id", "text")
    val out = MapOps.tfIdfTopTerms(docs, col("doc_id"), col("text"), k = 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    // "common" appears in every doc => idf ln(4/4)=0; unique terms win
    assert(out == Map(1L -> "apple", 2L -> "banana", 3L -> "cherry"))
  }

  test("tfIdfTopTerms breaks score ties by term ascending") {
    val docs = Seq((1L, "b a")).toDF("doc_id", "text")
    val out = MapOps.tfIdfTopTerms(docs, col("doc_id"), col("text"), k = 2)
      .orderBy("rnk").select("term").as[String].collect().toSeq
    assert(out == Seq("a", "b"))
  }

  test("centroids averages each position per label, 1-based pos") {
    val df = Seq(
      (0, Array(1.0f, 2.0f)), (0, Array(3.0f, 4.0f)), (1, Array(10.0f, 20.0f)))
      .toDF("label", "embedding")
    val out = SimilarityOps.centroids(df)
      .as[(Int, Long, Double)].collect().toSet
    assert(out == Set((0, 1L, 2.0), (0, 2L, 3.0), (1, 1L, 10.0), (1, 2L, 20.0)))
  }

  test("kmeansStep assigns to nearest seed and recomputes member means") {
    // two tight direction clusters; seeds 0 and 1 are one member of each
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(2.0f, 0.1f)), (3L, Array(0.1f, 3.0f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.kmeansStep(df, df.filter(col("vec_id") < 2))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(out(0L) == Seq(1.5, 0.05)) // members 0 and 2
    assert(out(1L) == Seq(0.05, 2.0)) // members 1 and 3
  }

  test("namedSinks splits one pass into disjoint named outputs") {
    val base = TestSpark.tmpDir("graft-named").toString
    val df = Seq((1, "x"), (2, "y"), (3, "x")).toDF("id", "tag")
    graft.core.Graft.namedSinks(df, base,
      Map("xs" -> (col("tag") === "x"), "ys" -> (col("tag") === "y")))
    assert(spark.read.parquet(s"$base/xs").count() == 2)
    assert(spark.read.parquet(s"$base/ys")
      .select("id").as[Int].collect().toSeq == Seq(2))
    val marker = java.nio.file.Paths.get(base, "_GRAFT_MULTI_SUCCESS")
    assert(java.nio.file.Files.readAllLines(marker).toArray.toSeq ==
      Seq("xs", "ys"), "the commit marker must land naming every output")
  }

  test("native hamming_distance counts differing positions + length delta") {
    val df = Seq(
      ("0000", "0000"), ("0000", "1111"), ("0101", "0110"), ("0000", "000011"))
      .toDF("a", "b")
    val got = df.select(
      graft.plans.NativeFunctions.hamming_distance(col("a"), col("b")))
      .as[Int].collect().toSeq
    assert(got == Seq(0, 4, 2, 2))
  }

  test("simhashNearDupPairs equals brute-force hamming for d <= bands-1") {
    // near-identical docs differ by a token; unrelated docs differ wildly
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val banded = DedupOps.simhashNearDupPairs(
        docs, col("doc_id"), col("text"), maxHamming = 3, bands = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val sigs = DedupOps.simhash64Typed(docs, col("doc_id"), col("text"))
    val brute = sigs.alias("x").join(sigs.alias("y"),
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id"),
        graft.plans.NativeFunctions.hamming_distance(
          col("x.simhash"), col("y.simhash")).as("h"))
      .filter(col("h") <= 3)
      .select("x.doc_id", "y.doc_id").as[(Long, Long)].collect().toSet
    assert(banded == brute)
    assert(banded.contains((1L, 3L))) // exact duplicates => hamming 0
  }

  test("xmlRecords extracts begin..end tag spans across line boundaries") {
    val dir = TestSpark.tmpDir("graft-xml")
    java.nio.file.Files.write(dir.resolve("part.txt"),
      "<rec>\n <v>1</v>\n</rec>\njunk between\n<rec><v>2</v></rec>\n<other>no</other>"
        .getBytes("UTF-8"))
    val out = graft.core.Graft.xmlRecords(spark, dir.toString, "rec")
      .select(regexp_extract(col("record"), "<v>(.*?)</v>", 1).cast("int").as("v"))
      .as[Int].collect().sorted
    assert(out.toSeq == Seq(1, 2))
  }
}
