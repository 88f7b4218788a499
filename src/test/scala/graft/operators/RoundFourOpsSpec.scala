package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.functions.ZOrder

/** Round-4 additions: global cumulative sums, corpus mixing, sequence
  * packing, token-budget selection, z-order clustering, winsorization,
  * partition pruning. */
class RoundFourOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // ------------------------------------------------------------ globalCumSums

  test("globalCumSum matches a window prefix sum regardless of partitioning") {
    val df = (1 to 500).map(i => (i.toLong, (i % 7 + 1).toLong))
      .toDF("id", "v").repartition(13) // scrambled input partitioning
    val got = SortOps.globalCumSums(df, Seq(col("id")), Seq(col("v")), Seq("cum"))
      .select("id", "cum").as[(Long, Long)].collect().sortBy(_._1)
    var run = 0L
    val want = (1 to 500).map { i => run += (i % 7 + 1); (i.toLong, run) }
    assert(got.toSeq == want)
  }

  test("globalCumSum honors descending order with tiebreakers") {
    val df = Seq((1L, 5L, 10L), (2L, 5L, 20L), (3L, 9L, 30L))
      .toDF("id", "q", "v")
    // order: q desc, id asc -> rows 3, 1, 2 -> cums 30, 40, 60
    val got = SortOps.globalCumSums(df, Seq(col("q").desc, col("id")),
        Seq(col("v")), Seq("cum"))
      .select("id", "cum").as[(Long, Long)].collect().toMap
    assert(got == Map(3L -> 30L, 1L -> 40L, 2L -> 60L))
  }

  // ---------------------------------------------------- weightedHashSample

  test("weightedHashSample: rate 1 keeps all, rate 0 keeps none, samples nest") {
    val df = (1 to 2000).map(_.toLong).toDF("id")
    assert(SortOps.weightedHashSample(df, col("id"), lit(1.0)).count() == 2000)
    assert(SortOps.weightedHashSample(df, col("id"), lit(0.0)).count() == 0)
    val lo = SortOps.weightedHashSample(df, col("id"), lit(0.3))
      .as[Long].collect().toSet
    val hi = SortOps.weightedHashSample(df, col("id"), lit(0.6))
      .as[Long].collect().toSet
    assert(lo.subsetOf(hi), "lower rate must select a subset of higher rate")
    // rate ~ fraction kept (md5 buckets are uniform)
    assert(math.abs(hi.size / 2000.0 - 0.6) < 0.05)
  }

  test("weightedHashSample is a pure projection — no shuffle") {
    val df = (1 to 100).map(_.toLong).toDF("id")
    val plan = SortOps.weightedHashSample(df, col("id"), lit(0.5))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  // --------------------------------------------------------- packSequences

  test("packSequences: offsets are contiguous in hash order and examples align") {
    val docs = (1 to 300).map(i => (i.toLong, (i % 40 + 1).toLong))
      .toDF("doc_id", "n_tok")
    val L = 64
    val out = CorpusOps.packSequences(docs, col("doc_id"), col("n_tok"), L)
      .select("doc_id", "n_tokens", "start_offset", "first_example",
        "last_example", "straddles")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
    // contiguity: sorted by start_offset, each doc starts where the previous ended
    val byOffset = out.sortBy(_._3)
    byOffset.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 + a._2 == b._3, s"gap between ${a._1} and ${b._1}")
    }
    assert(byOffset.head._3 == 0L)
    // example arithmetic
    out.foreach { case (_, n, start, first, last, straddles) =>
      assert(first == start / L && last == (start + n - 1) / L)
      assert(straddles == (first != last))
    }
    // totals: last cum == sum of all tokens
    val total = byOffset.last._3 + byOffset.last._2
    assert(total == (1 to 300).map(i => (i % 40 + 1).toLong).sum)
  }

  test("packSequences drops empty documents and is input-partitioning-stable") {
    val a = Seq((1L, 5L), (2L, 0L), (3L, 7L)).toDF("doc_id", "n_tok")
    val outA = CorpusOps.packSequences(a, col("doc_id"), col("n_tok"), 4)
      .select("doc_id").as[Long].collect().toSet
    assert(outA == Set(1L, 3L))
    val b = a.repartition(7)
    val offA = CorpusOps.packSequences(a, col("doc_id"), col("n_tok"), 4)
      .select("doc_id", "start_offset").as[(Long, Long)].collect().toMap
    val offB = CorpusOps.packSequences(b, col("doc_id"), col("n_tok"), 4)
      .select("doc_id", "start_offset").as[(Long, Long)].collect().toMap
    assert(offA == offB, "offsets must not depend on input partitioning")
  }

  // ------------------------------------------------------ tokenBudgetSelect

  test("tokenBudgetSelect: within budget, greedy-maximal, monotone in budget") {
    val docs = (1 to 200)
      .map(i => (i.toLong, (i % 10).toLong, (i % 30 + 1).toLong))
      .toDF("doc_id", "quality", "n_tok")
    val sel = CorpusOps.tokenBudgetSelect(docs, col("doc_id"), col("quality"),
        col("n_tok"), budget = 500L)
      .select("doc_id", "n_tokens", "cum_tokens")
      .as[(Long, Long, Long)].collect()
    assert(sel.map(_._2).sum <= 500L)
    assert(sel.map(_._3).max == sel.map(_._2).sum, "cum of last == total kept")
    // greedy-maximal: the next doc in order would have blown the budget
    val all = CorpusOps.tokenBudgetSelect(docs, col("doc_id"), col("quality"),
        col("n_tok"), budget = Long.MaxValue)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect()
      .sortBy(_._2)
    val kept = sel.map(_._1).toSet
    val firstDropped = all.find(r => !kept.contains(r._1))
    firstDropped.foreach { case (_, cum) => assert(cum > 500L) }
    // monotone: smaller budget selects a subset
    val small = CorpusOps.tokenBudgetSelect(docs, col("doc_id"), col("quality"),
        col("n_tok"), budget = 200L)
      .select("doc_id").as[Long].collect().toSet
    assert(small.subsetOf(kept))
  }

  // ----------------------------------------------------------------- zorder

  test("zValue matches a bit-by-bit reference interleave") {
    def ref(x: Long, y: Long, bits: Int): Long = {
      val (xm, ym) = (x % (1L << bits), y % (1L << bits))
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((xm >> i) & 1L) << (2 * i)) | (((ym >> i) & 1L) << (2 * i + 1))
      }
    }
    val rows = for (x <- 0 to 40; y <- 0 to 40) yield (x.toLong, y.toLong)
    val got = rows.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.zValueN(Seq(col("x"), col("y")), 6).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z == ref(x, y, 6), s"($x,$y)") }
    // wrap-around: out-of-range inputs use value mod 2^bits
    val big = Seq((100L, 3L)).toDF("x", "y")
      .select(ZOrder.zValueN(Seq(col("x"), col("y")), 6).as("z")).as[Long].head()
    assert(big == ref(100, 3, 6))
  }

  test("zorder clustering shrinks per-file bounding boxes on BOTH dimensions") {
    // a grid: ordering by x alone leaves y ranges at full width per split;
    // z-ordering must bound both
    val n = 64
    val grid = (for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    def maxRanges(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.groupBy(spark_partition_id())
        .agg((max("x") - min("x")).as("rx"), (max("y") - min("y")).as("ry"))
        .agg(max("rx"), max("ry")).as[(Long, Long)].head()
      r
    }
    val byX = grid.repartitionByRange(16, col("x"))
    val byZ = ZOrder.cluster(grid, col("x"), col("y"), bits = 6, n = 16)
    val (_, xRy) = maxRanges(byX)
    val (zRx, zRy) = maxRanges(byZ)
    assert(xRy == (n - 1).toLong, "x-only clustering leaves y unbounded")
    assert(zRx < n / 2 && zRy < n / 2,
      s"z-order should bound both dims: rx=$zRx ry=$zRy")
  }

  // -------------------------------------------------------------- winsorize

  test("winsorize clips to per-group exact percentiles; interior unchanged") {
    val df = ((1 to 100).map(i => ("a", i.toDouble)) ++
      (1 to 100).map(i => ("b", i * 10.0))).toDF("g", "v")
    val out = AggOps.winsorize(df, "g", "v", 0.05, 0.95)
      .select("g", "v", "w_lo", "w_hi", "v_w")
      .as[(String, Double, Double, Double, Double)].collect()
    out.foreach { case (g, v, lo, hi, w) =>
      assert(w >= lo && w <= hi)
      if (v >= lo && v <= hi) assert(w == v, s"interior row changed: $g $v")
      if (v < lo) assert(w == lo)
      if (v > hi) assert(w == hi)
    }
    // group-specific bounds: b's are 10x a's
    val loA = out.filter(_._1 == "a").head._3
    val loB = out.filter(_._1 == "b").head._3
    assert(math.abs(loB - 10 * loA) < 1e-9)
  }

  // ------------------------------------------------------------ capPerGroup

  test("capPerGroup keeps at most k per group, deterministically") {
    val df = (1 to 400).map(i => (i.toLong, s"g${i % 5}")).toDF("id", "g")
    val a = CorpusOps.capPerGroup(df, col("g"), col("id"), 7)
      .select("id", "g").as[(Long, String)].collect()
    assert(a.groupBy(_._2).forall(_._2.length == 7)) // every group has 80 > 7
    val b = CorpusOps.capPerGroup(df.repartition(11), col("g"), col("id"), 7)
      .select("id", "g").as[(Long, String)].collect()
    assert(a.toSet == b.toSet, "kept set must not depend on partitioning")
    // small groups survive whole
    val small = Seq((1L, "x"), (2L, "x")).toDF("id", "g")
    assert(CorpusOps.capPerGroup(small, col("g"), col("id"), 7).count() == 2)
  }

  // ------------------------------------------------------------ shardShuffle

  test("shardShuffle: dense in-shard ranks, stable permutation, rough balance") {
    val df = (1 to 1000).map(_.toLong).toDF("doc_id")
    val out = CorpusOps.shardShuffle(df, col("doc_id"), 8)
      .select("doc_id", "shard", "shard_rank")
      .as[(Long, Long, Long)].collect()
    out.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length),
        s"ranks not dense in shard $shard")
      assert(rows.length > 60 && rows.length < 190,
        s"shard $shard badly unbalanced: ${rows.length}")
    }
    // a (shard, rank) pair addresses exactly one document, every run
    val again = CorpusOps.shardShuffle(df.repartition(5), col("doc_id"), 8)
      .select("doc_id", "shard", "shard_rank")
      .as[(Long, Long, Long)].collect()
    assert(out.toSet == again.toSet)
    // hash order != ingest order (it actually shuffles)
    val firstShardIds = out.filter(_._2 == 0).sortBy(_._3).map(_._1).toSeq
    assert(firstShardIds != firstShardIds.sorted)
  }

  // ------------------------------------------------------------ quantizeInt8

  test("quantizeInt8: codes in range, error bounded, zero vectors safe") {
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 1.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),     // zero vector
      (3L, Array(3.0f, -3.0f, 0.003f, 2.9f))) // wide dynamic range
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.quantizeInt8(df, "embedding")
      .select("vec_id", "scale", "qvec")
      .as[(Long, Double, Array[Int])].collect().sortBy(_._1)
    val src = Map(
      1L -> Array(0.5f, -1.0f, 0.25f, 1.0f),
      2L -> Array(0.0f, 0.0f, 0.0f, 0.0f),
      3L -> Array(3.0f, -3.0f, 0.003f, 2.9f))
    out.foreach { case (id, scale, q) =>
      assert(q.forall(c => c >= -127 && c <= 127), s"code out of range: $id")
      if (id == 2L) { assert(scale == 0.0 && q.forall(_ == 0)) }
      else {
        val v = src(id)
        v.indices.foreach { i =>
          assert(math.abs(q(i) * scale - v(i)) <= scale / 2 + 1e-9,
            s"vec $id coord $i error > scale/2")
        }
        // the max-|v| coordinate saturates to exactly +-127
        val mi = v.indices.maxBy(i => math.abs(v(i)))
        assert(math.abs(q(mi)) == 127)
      }
    }
  }

  test("int8CosineTopK ranks like the float path on well-separated vectors") {
    // three clusters along distinct axes: quantization noise (<= scale/2
    // per coord) cannot reorder neighbors ACROSS clusters
    val vecs = (0 until 30).map { i =>
      val axis = i % 3
      val v = Array.fill(8)(0.01f + (i % 5) * 0.001f)
      v(axis) = 1.0f + (i % 7) * 0.01f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
    val f = SimilarityOps.cosineTopK(vecs, queries, k = 5)
      .select("query_id", "nbr_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val q8 = SimilarityOps.int8CosineTopK(vecs, queries, k = 5)
      .select("query_id", "nbr_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (0L to 2L).foreach { q =>
      val sameAxis = q8(q).forall(n => n % 3 == q % 3)
      assert(sameAxis, s"int8 top-5 of query $q left its cluster: ${q8(q)}")
      assert(f(q).forall(n => n % 3 == q % 3))
    }
  }

  test("quantizeInt8 is a pure projection — no shuffle") {
    val df = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val plan = SimilarityOps.quantizeInt8(df, "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  // ------------------------------------------------------------- edge cases

  test("empty inputs: cumsum, packing, budget, caps, shards all yield empty") {
    val empty = spark.emptyDataFrame
      .withColumn("id", lit(1L)).withColumn("v", lit(1L)).limit(0)
    assert(SortOps.globalCumSums(empty, Seq(col("id")), Seq(col("v")),
      Seq("cum")).count() == 0)
    assert(CorpusOps.packSequences(empty, col("id"), col("v"), 8).count() == 0)
    assert(CorpusOps.tokenBudgetSelect(empty, col("id"), col("v"), col("v"),
      10L).count() == 0)
    assert(CorpusOps.capPerGroup(empty, col("v"), col("id"), 3).count() == 0)
    assert(CorpusOps.shardShuffle(empty, col("id"), 4).count() == 0)
  }

  test("packSequences: one doc exactly contextLen never straddles; 1-token docs") {
    val docs = Seq((1L, 64L), (2L, 1L), (3L, 1L)).toDF("doc_id", "n_tok")
    val out = CorpusOps.packSequences(docs, col("doc_id"), col("n_tok"), 64)
      .select("doc_id", "start_offset", "first_example", "last_example",
        "straddles")
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._2)
    // total 66 tokens -> examples 0 and 1; no doc may report first>last
    out.foreach { case (_, _, first, last, s) =>
      assert(first <= last && s == (first != last))
    }
    val total = out.map(_._2).max
    assert(total <= 65L) // last start offset within the token span
  }

  test("winsorize on a constant column leaves every value unchanged") {
    val df = (1 to 50).map(i => ("g", 42.0)).toDF("g", "v")
    val out = AggOps.winsorize(df, "g", "v", 0.05, 0.95)
      .select("v", "v_w", "w_lo", "w_hi")
      .as[(Double, Double, Double, Double)].collect()
    out.foreach { case (v, w, lo, hi) =>
      assert(v == w && lo == 42.0 && hi == 42.0)
    }
  }

  test("weightedHashSample honors per-row rates from a joined control table") {
    val docs = (1 to 3000).map(i => (i.toLong, if (i % 2 == 0) "keepall" else "none"))
      .toDF("id", "src")
    val rates = Seq(("keepall", 1.0), ("none", 0.0)).toDF("src", "rate")
    val kept = SortOps.weightedHashSample(
        docs.join(broadcast(rates), Seq("src")), col("id"), col("rate"))
      .select("id").as[Long].collect()
    assert(kept.length == 1500 && kept.forall(_ % 2 == 0))
  }

  test("shardShuffle with 1 shard is a pure hash-order ranking") {
    val df = (1 to 100).map(_.toLong).toDF("doc_id")
    val out = CorpusOps.shardShuffle(df, col("doc_id"), 1)
      .select("shard", "shard_rank").as[(Long, Long)].collect()
    assert(out.forall(_._1 == 0L))
    assert(out.map(_._2).sorted.toSeq == (1L to 100L))
  }

  test("globalCumSum treats null values as 0 instead of crashing") {
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)))
      .toDF("id", "v")
    val got = SortOps.globalCumSums(df, Seq(col("id")), Seq(col("v")), Seq("cum"))
      .select("id", "cum").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 5L, 2L -> 5L, 3L -> 12L))
  }

  test("winsorize passes null-group rows through unclipped, preserving count") {
    val df = Seq(("a", 1.0), ("a", 100.0), (null, 9999.0))
      .toDF("g", "v")
    val out = AggOps.winsorize(df, "g", "v", 0.05, 0.95)
      .select("g", "v", "v_w").collect()
    assert(out.length == 3, "clipping must preserve row count")
    val nullRow = out.find(_.isNullAt(0)).get
    assert(nullRow.getDouble(2) == 9999.0, "null-group row must pass unclipped")
  }

  // -------------------------------------------------------------- QualityOps

  test("expect: violations name every broken rule; NULL result = violation") {
    val df = Seq((1L, 10.0), (2L, -5.0), (3L, Double.NaN))
      .toDF("id", "v")
      .withColumn("v", when(col("id") === 3, lit(null)).otherwise(col("v")))
    val out = QualityOps.expect(df, Seq(
        "nonneg" -> (col("v") >= 0), "small" -> (col("v") < 100)))
      .select("id", "violations").as[(Long, Seq[String])].collect().toMap
    assert(out(1L) == Seq())
    assert(out(2L) == Seq("nonneg"))
    assert(out(3L) == Seq("nonneg", "small"), "null comparisons must violate")
  }

  test("cdcApply: last op per key wins; deletes drop; inserts add; rest pass") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "payload")
    val changes = Seq(
      (1L, "a2", "U", 1L), (1L, "a3", "U", 2L),   // two updates: seq 2 wins
      (2L, "b", "D", 1L),                          // delete
      (9L, "new", "I", 1L))                        // insert
      .toDF("k", "payload", "op", "seq")
    val out = QualityOps.cdcApply(base, changes, "k")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a3", 3L -> "c", 9L -> "new"))
  }

  test("snapshotDiff: added/removed/changed/unchanged with null-safe column diffs") {
    val before = Seq((1L, Some("a"), 10), (2L, Some("b"), 20),
      (3L, None: Option[String], 30), (4L, Some("d"), 40))
      .toDF("k", "s", "v")
    val after = Seq((1L, Some("a"), 10),                      // unchanged
      (2L, Some("B"), 20),                                    // changed: s
      (3L, Some("now"), 31),                                  // changed: s (null->value) + v
      (5L, Some("e"), 50))                                    // added; 4 removed
      .toDF("k", "s", "v")
    val out = QualityOps.snapshotDiff(before, after, "k", Seq("s", "v"))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out("added") == ((1L, 5L, 0L, 0L)))
    assert(out("removed") == ((1L, 4L, 0L, 0L)))
    assert(out("changed") == ((2L, 5L, 2L, 1L)), "null->value must count as change")
    assert(out("unchanged") == ((1L, 1L, 0L, 0L)))
  }

  // ------------------------------------------------------ partition pruning

  test("partition-column filter prunes to one directory at plan time") {
    val dir = TestSpark.tmpDir("graft_prune_spec").toString
    (1 to 300).map(i => (i.toLong, s"t${i % 3}", i * 1.0))
      .toDF("id", "kind", "v")
      .write.mode("overwrite").partitionBy("kind").parquet(dir)
    val filtered = spark.read.parquet(dir).filter(col("kind") === "t1")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("t1"),
      s"partition filter not pushed:\n$plan")
    val files = filtered.select(input_file_name()).distinct()
      .as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains("kind=t1")),
      "scan touched a non-matching partition directory")
    assert(filtered.count() == 100)
  }

  test("zValueN: 3-D hand values and the SQL twin") {
    import graft.functions.ZOrder
    // 3-D by hand, bits=2, positions i*3+d:
    // (x=1,y=2,w=3): x0=1->bit0, x1=0; y0=0, y1=1->bit4; w0=1->bit2, w1=1->bit5
    // => 1 + 4? no: bits set {0, 4, 2, 5} = 1+16+4+32 = 53
    val z3 = Seq((1L, 2L, 3L)).toDF("x", "y", "w")
      .select(ZOrder.zValueN(Seq(col("x"), col("y"), col("w")), 2))
      .as[Long].collect().head
    assert(z3 === 53L)
    // SQL twin renders the same value in Spark's own SQL dialect
    val viaSql = Seq((1L, 2L, 3L)).toDF("x", "y", "w")
      .selectExpr(ZOrder.zValueNSql(Seq("x", "y", "w"), 2))
      .as[Long].collect().head
    assert(viaSql === 53L, "the SQL rendering must not drift")
  }
}
