package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.core.Chain

/** Scale-technique demos as executable assertions: bucketed shuffle-free
  * sort-merge join (the reference's CompositeInputFormat map-side join),
  * salting for hot keys, operator chaining fusion. */
class ScaleSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("bucketed tables sort-merge-join WITHOUT a shuffle exchange") {
    val n = 1000
    val a = (1 to n).map(i => (i % 50, s"a$i")).toDF("key", "av")
    val b = (1 to n).map(i => (i % 50, s"b$i")).toDF("key", "bv")
    a.write.mode("overwrite").bucketBy(8, "key").sortBy("key").saveAsTable("bk_a")
    b.write.mode("overwrite").bucketBy(8, "key").sortBy("key").saveAsTable("bk_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bk_a").join(spark.table("bk_b"), Seq("key"))
      joined.write.mode("overwrite").format("noop").save()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      // bucket co-location: no shuffle before either side of the join
      assert(!plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in plan:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("saltedStats equals the direct groupBy on a skewed dataset") {
    // 90% of rows share one key — the groupBy shape salting exists for
    val rows = (1 to 2000).map(i => (if (i % 10 == 0) s"k${i % 7}" else "hot", i.toDouble))
    val df = rows.toDF("key", "value")
    val salted = SkewOps.saltedStats(df, col("key"), col("value"), saltBuckets = 8)
      .select("key", "sum_value", "cnt", "min_value", "max_value")
    val direct = df.groupBy("key").agg(
      sum(col("value").cast("decimal(20,6)")).cast("double").as("sum_value"),
      count(lit(1)).as("cnt"),
      min("value").as("min_value"),
      max("value").as("max_value"))
    assert(salted.except(direct).isEmpty && direct.except(salted).isEmpty)
  }

  test("skewReport and joinSizeEstimate match hand-computed tables") {
    val left = (Seq.fill(6)("hot") ++ Seq("a", "b")).toDF("k")
    val rep = SkewOps.skewReport(left, col("k"))
      .as[(Long, Long, Long, Long, String, Long)].collect().head
    // 3 keys, 8 rows, max 6; p99 rank = ceil(3*0.99)=3 -> the max key
    assert(rep === ((3L, 8L, 6L, 6L, "hot", 750000L)))

    val right = Seq("hot", "hot", "a", "zzz").toDF("k")
    val est = SkewOps.joinSizeEstimate(left, col("k"), right, col("k"))
      .as[(Long, Long, Long)].collect().head
    // hot: 6*2=12, a: 1*1=1; b and zzz unmatched
    assert(est === ((13L, 2L, 12L)))
    val joined = left.join(right.withColumnRenamed("k", "k2"),
      col("k") === col("k2")).count()
    assert(joined === 13L) // the estimate is exact by construction
  }

  test("saltedJoin equals the plain join on a skewed left side") {
    val left = ((1 to 500).map(_ => (1, "hot")) ++ Seq((2, "cold"))).toDF("key", "lv")
    val right = Seq((1, "r1"), (2, "r2")).toDF("key", "rv")
    val salted = SkewOps.saltedJoin(left, right, "key", saltBuckets = 4)
      .select("key", "lv", "rv")
    val plain = left.join(right, Seq("key")).select("key", "lv", "rv")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }

  test("rebalanceForCompute fans out small inputs and no-ops on wide ones") {
    val cores = spark.sparkContext.defaultParallelism
    val narrow = Seq.tabulate(100)(i => (i, s"v$i")).toDF("k", "v").coalesce(1)
    assert(graft.core.Graft.rebalanceForCompute(narrow).rdd.getNumPartitions == cores)
    // already at least half as wide as the cluster: plan must be unchanged
    val wide = Seq.tabulate(100)(i => (i, s"v$i")).toDF("k", "v").repartition(cores)
    val out = graft.core.Graft.rebalanceForCompute(wide)
    assert(out eq wide)
  }

  test("overlapJobs returns results in input order") {
    // later jobs finish first
    val work = Seq.tabulate(6)(i => () => { Thread.sleep((6 - i) * 20L); i })
    assert(graft.core.Graft.overlapJobs(work) == (0 until 6))
  }

  test("overlapJobs rethrows the first failure only after every job drains") {
    val finished = new java.util.concurrent.atomic.AtomicInteger
    val slow = () => { Thread.sleep(150); finished.incrementAndGet() }
    val work = Seq[() => Int](
      () => throw new IllegalStateException("first"),
      () => throw new IllegalArgumentException("second"),
      slow, slow, slow)
    val e = intercept[IllegalStateException](graft.core.Graft.overlapJobs(work))
    assert(e.getMessage == "first")
    assert(finished.get == 3)
  }

  test("overlapJobs: an interrupted caller cancels the jobs and keeps its interrupt flag") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val started = new CountDownLatch(2)
    val cancelled = new CountDownLatch(2)
    val job = () => {
      started.countDown()
      try { new CountDownLatch(1).await(); 0 }
      catch { case e: InterruptedException => cancelled.countDown(); throw e }
    }
    @volatile var caught: Throwable = null
    @volatile var flagSet = false
    val caller = new Thread(() => {
      try { graft.core.Graft.overlapJobs(Seq(job, job)); () }
      catch { case e: Throwable => caught = e; flagSet = Thread.currentThread().isInterrupted }
    })
    caller.start()
    assert(started.await(10, TimeUnit.SECONDS))
    caller.interrupt()
    caller.join(10000)
    assert(caught.isInstanceOf[InterruptedException])
    assert(flagSet)
    assert(cancelled.await(10, TimeUnit.SECONDS), "outstanding jobs were not cancelled")
  }

  test("BPE pair statistics cost exactly two partial/final aggregations") {
    val docs = Seq("low low lower", "newest widest").toDF("text")
    val plan = BpeOps.corpusPairCounts(docs, col("text"))
      .queryExecution.executedPlan.toString
    // word-count shuffle + pair-count shuffle, nothing else — the corpus
    // reduces to the vocabulary before any per-round work
    assert(plan.linesIterator.count(_.contains("Exchange")) == 2, plan)
    assert(plan.linesIterator.count(_.contains("partial_")) == 2,
      "both aggregations must combine map-side")
  }

  test("chunkDocuments and stratifiedHashSample plan with ZERO exchanges") {
    val docs = (1 to 100).map(i => (i.toLong, s"lang${i % 3}",
      (1 to 30).map(j => s"t$j").mkString(" "))).toDF("doc_id", "lang", "text")
    val chunked = MapOps.chunkDocuments(docs, col("doc_id"), col("text"),
      size = 8, overlap = 2)
    assert(!chunked.queryExecution.executedPlan.toString.contains("Exchange"),
      "chunking must be a per-row projection")
    val sampled = SortOps.stratifiedHashSample(docs, col("doc_id"), col("lang"),
      Map("lang0" -> 0.5, "lang1" -> 1.0))
    assert(!sampled.queryExecution.executedPlan.toString.contains("Exchange"),
      "stratified hash sampling must be a per-row filter")
  }

  test("kmeansStep assignment runs with no exchange on the corpus side") {
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 13 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = vecs.filter(col("vec_id") < 4)
    val out = SimilarityOps.kmeansStep(vecs, cents)
    val plan = out.queryExecution.executedPlan.toString
    // the only exchanges allowed are the final labels-x-dims aggregation
    // (and its tiny ordering); the corpus assignment itself must be
    // scan -> mapPartitions with the centroids broadcast, never a
    // Window.partitionBy shuffle of the corpus
    assert(!plan.contains("Window"), s"window shuffle crept back:\n$plan")
    assert(plan.contains("MapPartitions"), s"typed argmin kernel missing:\n$plan")
  }

  test("assignToNearest re-assignment plans with ZERO exchanges") {
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 13 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = vecs.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val out = SimilarityOps.assignToNearest(vecs, cents)
    val plan = out.queryExecution.executedPlan.toString
    // pure scan -> broadcast-argmin mapPartitions: the corpus must not
    // shuffle at all during re-assignment (the crossJoin+window form this
    // replaces exchanged corpus x nlist rows)
    assert(!plan.contains("Exchange"), s"corpus shuffled:\n$plan")
    assert(plan.contains("MapPartitions"), s"typed argmin kernel missing:\n$plan")
    // contract: nearest = max rounded cosine, cid tiebreak
    val mine = out.filter(col("vec_id") === 7L).select("cid").as[Long].head()
    val expect = vecs.filter(col("vec_id") < 4).crossJoin(
        vecs.filter(col("vec_id") === 7L).select(col("embedding").as("q")))
      .select(col("vec_id"),
        round(SimilarityOps.cosine(col("q"), col("embedding")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).select("vec_id")
      .as[Long].head()
    assert(mine == expect)
  }

  test("filters and projections reach the parquet scan (pushdown + pruning)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pushdown").toString
    (1 to 1000).map(i => (i.toLong, s"v$i", i * 2.0, s"pad$i"))
      .toDF("k", "name", "score", "padding")
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter(col("k") > 900L)
      .select("k", "name")
    q.write.mode("overwrite").format("noop").save()
    val plan = q.queryExecution.executedPlan.toString
    // the predicate must reach the scan (row-group stats skipping), and the
    // scan must read ONLY the projected columns — a scan pulling score or
    // padding for a 2-column projection wastes IO at any scale
    assert(plan.contains("PushedFilters: [IsNotNull(k), GreaterThan(k,900)]"),
      s"filter not pushed:\n$plan")
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("k:bigint") && readSchema.contains("name:string")
      && !readSchema.contains("score") && !readSchema.contains("padding"),
      s"columns not pruned: $readSchema")
  }

  test("AQE splits a skewed sort-merge-join partition at runtime") {
    // one hot key carries ~95% of the left side — the shape manual salting
    // (SkewOps) handles; this asserts Spark's RUNTIME answer engages too,
    // so un-salted joins still survive skew via AQE partition splitting
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val left = (1 to 60000)
        .map(i => (if (i % 20 == 0) i % 7 + 1 else 0, s"payload_$i"))
        .toDF("key", "lv")
      val right = (0 to 7).map(k => (k, s"dim_$k")).toDF("key", "rv")
      val joined = left.join(right, Seq("key"))
      // collect() executes joined's OWN QueryExecution — a write/count
      // would build a fresh plan and leave this one isFinalPlan=false
      assert(joined.collect().length == 60000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE skew split absent:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("fuzzyPairs never plans a cartesian product") {
    val df = (1 to 500).map(i => (s"name_${i % 40} tail_${i % 7}", i))
      .toDF("n", "i")
    val q = DedupOps.fuzzyPairs(df, col("n"),
      split(col("n"), " ").getItem(1), maxDist = 2)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"fuzzy join degenerated to a product:\n$plan")
  }

  test("weightedPrioritySample is a TakeOrdered, not a global sort") {
    val df = (1L to 10000L).map(i => (i, i % 97 + 1)).toDF("id", "w")
    val q = SortOps.weightedPrioritySample(df, col("id"), col("w"), k = 25)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k merge:\n$plan")
    assert(q.count() == 25)
  }

  test("funnel plans contain no window operators") {
    val ev = (1L to 3000L).map(i =>
      (i % 100, new java.sql.Timestamp(i * 1000), Seq("view", "click", "purchase")(
        (i % 3).toInt))).toDF("u", "t", "s")
    val q = AnalyticsOps.funnel(ev, col("u"), col("t"), col("s"),
      Seq("view", "click", "purchase"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"funnel should be join+agg only:\n$plan")
  }

  test("Chain.of composes transforms left to right") {
    val f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.withColumn("x2", col("x") * 2)
    val g: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.filter(col("x2") > 4)
    val out = Chain.of(f, g)(Seq(1, 2, 3, 4).toDF("x"))
    assert(out.select("x").as[Int].collect().toSeq.sorted == Seq(3, 4))
  }

  test("semanticDedup: corpus assigns via broadcast kernel, pair stage joins on the cell id") {
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 13 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = vecs.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val out = SimilarityOps.semanticDedup(vecs, cents, tau = 0.95)
    val plan = out.queryExecution.executedPlan.toString
    // assignment must stay the zero-exchange argmin kernel; the quadratic
    // stage must be a cid-keyed join (bounded within cells), never a
    // cartesian over the corpus
    assert(plan.contains("MapPartitions"), s"typed argmin kernel missing:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"pair stage degenerated to a cartesian:\n$plan")
    assert(!plan.contains("Window"), s"no window needed anywhere:\n$plan")
  }

  test("semanticDedup: a fat cell sub-splits under maxCell; capped drops stay a subset") {
    val vecs = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 13 + d).toFloat))
    }.toDF("vec_id", "embedding")
    // only 2 centroids -> ~150-member cells, well over maxCell = 32
    val cents = vecs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val capped = SimilarityOps.semanticDedup(vecs, cents, tau = 0.95, maxCell = 32)
    val plan = capped.queryExecution.executedPlan.toString
    // the quadratic stage must key on (cid, _sub) so one fat centroid can
    // never concentrate its pair work — and still no cartesian anywhere
    assert(plan.contains("_sub"), s"pair stage not keyed on the sub-cell:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"pair stage degenerated to a cartesian:\n$plan")
    // sub-splitting only removes candidate pairs: everything the capped run
    // drops, the uncapped run drops too (kept_uncapped ⊆ kept_capped)
    val uncapped = SimilarityOps.semanticDedup(vecs, cents, tau = 0.95)
    val keptUn = uncapped.filter(col("kept")).select("vec_id")
    val keptCap = capped.filter(col("kept")).select("vec_id")
    assert(keptUn.except(keptCap).isEmpty,
      "capped run must keep a superset of the uncapped run's survivors")
    assert(capped.count() === 300L, "one row per input vector regardless of cap")
  }

  test("tCloseness: domain-bounded sides broadcast; no cartesian, no window") {
    val df = (1 to 2000).map(i => (s"g${i % 20}", s"v${i % 5}")).toDF("g", "s")
    val out = QualityOps.tCloseness(df, Seq(col("g")), col("s"), t = 0.1)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"global distribution should broadcast back to the cells:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Window"),
      s"unexpected cartesian or window:\n$plan")
  }

  test("bfsHops and randomWalks: every per-round join is an equi-join, never a cartesian") {
    val edges = (1L to 500L).map(i => (i, i % 97 + 1)).toDF("src", "dst")
    val seeds = Seq(1L, 2L).toDF("node")
    val bfs = GraphOps.bfsHops(edges, seeds, maxHops = 2)
    val bfsPlan = bfs.queryExecution.executedPlan.toString
    assert(!bfsPlan.contains("CartesianProduct") &&
      !bfsPlan.contains("BroadcastNestedLoop"),
      s"BFS degenerated to a cartesian:\n$bfsPlan")
    val walks = GraphOps.randomWalks(edges, seeds, steps = 2)
    val wPlan = walks.queryExecution.executedPlan.toString
    assert(!wPlan.contains("CartesianProduct") &&
      !wPlan.contains("BroadcastNestedLoop"),
      s"walks degenerated to a cartesian:\n$wPlan")
  }

  test("round-7 batch-2 ops: shuffle budgets and join strategies hold") {
    def nExchanges(plan: String): Int = "Exchange".r.findAllIn(plan).length

    // pseudonymize is a pure codegen'd map: ZERO exchanges
    val p = QualityOps.pseudonymize(
      (1 to 500).map(i => (i.toLong, s"n$i")).toDF("id", "name"),
      Seq("name"), "s")
    assert(!p.queryExecution.executedPlan.toString.contains("Exchange"),
      "pseudonymize must not shuffle")

    // kaplanMeier: every window is group-partitioned — a plan that funnels
    // through Exchange SinglePartition dies at any real scale
    val durs = (1 to 400).map(i => (s"g${i % 3}", (i % 30).toLong, i % 4 != 0))
      .toDF("g", "t", "e")
    val kmPlan = AnalyticsOps.kaplanMeier(durs, Seq(col("g")), col("t"),
      col("e")).queryExecution.executedPlan.toString
    assert(!kmPlan.contains("Exchange SinglePartition"),
      s"kaplanMeier collapsed to one partition:\n$kmPlan")
    assert(!kmPlan.contains("CartesianProduct"))

    // linearTrend: one aggregation — no join, no window, one shuffle
    val ltPlan = AnalyticsOps.linearTrend(durs, Seq(col("g")),
      col("t").cast("double"), lit(1.0))
      .queryExecution.executedPlan.toString
    assert(!ltPlan.contains("Join") && !ltPlan.contains("Window"),
      s"linearTrend must be a single aggregation:\n$ltPlan")
    assert(nExchanges(ltPlan) === 1, s"linearTrend shuffle budget is 1:\n$ltPlan")

    // CMS: counters shuffle ONCE on the bounded (r,b) grid; estimates
    // probe by broadcast (a sort-merge would shuffle the probe side on a
    // 256-cell key — wrong at every scale)
    val kdf = (1 to 1000).map(i => s"k${i % 40}").toDF("k")
    val counters = AggOps.cmsCounters(kdf, col("k"), "s", 4, 64)
    assert(nExchanges(counters.queryExecution.executedPlan.toString) === 1,
      "cmsCounters shuffle budget is 1 (the d*w-bounded grid)")
    val estPlan = AggOps.cmsEstimates(counters, kdf, col("k"), "s", 4, 64)
      .queryExecution.executedPlan.toString
    assert(estPlan.contains("BroadcastHashJoin") &&
      !estPlan.contains("SortMergeJoin"),
      s"cms estimates must probe via broadcast:\n$estPlan")

    // bucket checksums: one shuffle to `buckets` rows, no join
    val ck = QualityOps.bucketChecksums(durs, Seq(col("g")), Seq(col("t")), 16)
    val ckPlan = ck.queryExecution.executedPlan.toString
    assert(nExchanges(ckPlan) === 1 && !ckPlan.contains("Join"),
      s"bucketChecksums is one partial/final aggregation:\n$ckPlan")
  }

  test("round-7 batch-3 ops: stats windows partition by group; graph/dedup stay cartesian-free") {
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString

    // every stats op windows/aggregates on the group key — a
    // SinglePartition exchange means the 100 TB version funnels one node
    val ev = (1 to 600).map(i =>
      (s"g${i % 3}", i.toLong, i.toLong, (i % 17).toDouble))
      .toDF("g", "t", "id", "x")
    for ((name, df) <- Seq(
        "gini" -> StatsOps.gini(ev, Seq(col("g")), col("x")),
        "ewma" -> StatsOps.ewmaTrailing(ev, col("g"), col("t"), col("id"),
          col("x"), BigDecimal("0.7"), 5),
        "autocorr" -> StatsOps.autocorr(ev, Seq(col("g")), col("t"),
          col("id"), col("x"), 1),
        "cusum" -> StatsOps.cusum(ev, Seq(col("g")), col("t"), col("id"),
          col("x")),
        "mwu" -> StatsOps.mannWhitneyU(ev, Seq(col("g")),
          col("id") % 2 === 0, col("x")),
        "wq" -> StatsOps.weightedQuantile(ev, Seq(col("g")), col("x"),
          lit(1.0), 0.5),
        "topPaths" -> AnalyticsOps.topPaths(ev, col("id") % 50, col("t"),
          col("id"), col("g")))) {
      val p = plan(df)
      assert(!p.contains("Exchange SinglePartition"),
        s"$name collapsed to one partition:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name went cartesian")
    }

    // linkPrediction: wedge join and anti-join are equi-joins on w/pair
    // keys; hub cap bounds the per-center blowup, never a cartesian
    val edges = (1 to 300).map(i => (i.toLong % 40, (i * 7).toLong % 40))
      .toDF("src", "dst")
    val lpPlan = plan(GraphOps.linkPrediction(edges, 100, 1L))
    assert(!lpPlan.contains("CartesianProduct") &&
      !lpPlan.contains("BroadcastNestedLoopJoin"),
      s"linkPrediction must stay equi-joined:\n$lpPlan")

    // containmentPairs inherits the df-capped candidate discipline
    val docs = (1 to 60).map(i => (i.toLong,
      (1 to 12).map(j => s"w${(i + j) % 25}").mkString(" "))).toDF("id", "tx")
    val cpPlan = plan(DedupOps.containmentPairs(docs, col("id"), col("tx"),
      5, 50, 0.1))
    assert(!cpPlan.contains("CartesianProduct") &&
      !cpPlan.contains("BroadcastNestedLoopJoin"),
      s"containmentPairs must stay equi-joined:\n$cpPlan")

    // generalizeToK: the 1-row chosen-level side broadcasts back
    val gkPlan = plan(QualityOps.generalizeToK(
      (0 until 200).map(i => Tuple1(i.toDouble)).toDF("x"), col("x"),
      Seq(10L, 100L), 3L))
    assert(gkPlan.contains("BroadcastHashJoin") &&
      !gkPlan.contains("SortMergeJoin"),
      s"generalizeToK level pick must broadcast:\n$gkPlan")

    // dpMean: one aggregation plus scalar math — exactly one exchange
    val dmPlan = plan(QualityOps.dpMean(ev, col("g"), col("x"),
      0.0, 20.0, 1.0, 1.0, "s"))
    assert("Exchange".r.findAllIn(dmPlan).length === 1 &&
      !dmPlan.contains("Join"),
      s"dpMean is one hash aggregation:\n$dmPlan")
  }

  test("round-7 batch-4 ops: keyed windows partition, kernels don't shuffle, joins stay equi") {
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString

    val ev = (1 to 400).map(i =>
      (s"g${i % 3}", i.toLong, i.toLong, (i % 13).toDouble))
      .toDF("g", "t", "id", "x")
    // keyed window/agg ops must never collapse to one partition
    for ((name, df) <- Seq(
        "scd2Build" -> QualityOps.scd2Build(ev, col("g"), col("t"),
          col("id"), col("x")),
        "interpolate" -> GroupOps.interpolateMissing(ev, col("g"), col("t"),
          col("id"), col("x")),
        "goldenRecord" -> QualityOps.goldenRecord(ev, col("g"), col("t"),
          col("id"), Seq("x")),
        "seasonalNaive" -> StatsOps.seasonalNaiveError(ev, col("g"),
          col("t"), col("x"), 10L, 2),
        "eventKgrams" -> AnalyticsOps.eventKgrams(ev, col("g"), col("t"),
          col("id"), col("x").cast("string")),
        "maxConcurrency" -> AnalyticsOps.maxConcurrency(ev, Seq(col("g")),
          col("t"), col("t") + 5),
        "mode" -> StatsOps.mode(ev, Seq(col("g")), col("x")),
        "trimmedMean" -> StatsOps.trimmedMean(ev, Seq(col("g")), col("x"),
          0.1),
        "wilson" -> StatsOps.wilsonInterval(ev, Seq(col("g")),
          col("id") % 2 === 0),
        "rollingAnomalies" -> StatsOps.rollingAnomalies(ev, col("g"),
          col("t"), col("id"), col("x"), 5, 3.0))) {
      val p = plan(df)
      assert(!p.contains("Exchange SinglePartition"),
        s"$name collapsed to one partition:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name went cartesian")
    }

    // goldenRecord is ONE hash aggregation: no window, no join
    val grPlan = plan(QualityOps.goldenRecord(ev, col("g"), col("t"),
      col("id"), Seq("x")))
    assert(!grPlan.contains("Window") && !grPlan.contains("Join"),
      s"goldenRecord must be a bare aggregation:\n$grPlan")

    // editDistancePairs: deletion-variant equi-join, never a nested loop
    val names = (1 to 150).map(i => s"name$i").toDF("nm")
    val edPlan = plan(DedupOps.editDistancePairs(names, col("nm")))
    assert(!edPlan.contains("CartesianProduct") &&
      !edPlan.contains("BroadcastNestedLoopJoin"),
      s"editDistancePairs must stay equi-joined:\n$edPlan")

    // multimodal kernels: payload rows never shuffle
    val wav = Seq((1L, MultimodalOps.encodeWavPcm16(
      Array.tabulate[Short](32)(_.toShort)))).toDF("id", "payload")
    assert(!plan(MultimodalOps.audioFrameFeatures(wav, "id", "payload"))
      .contains("Exchange"), "audioFrameFeatures must not shuffle")
    assert(!plan(MultimodalOps.frameDiffs(wav, "id", "payload"))
      .contains("Exchange"), "frameDiffs must not shuffle")
  }

  test("importanceWeights: bucket log-ratio table broadcasts back to the doc rollup") {
    val docs = (0 until 300).map(i => (i.toLong, s"tok$i common word${i % 7}", i % 3 == 0))
      .toDF("doc_id", "text", "is_t")
    val out = CorpusOps.importanceWeights(docs, col("doc_id"), col("text"),
      col("is_t"), nBuckets = 32)
    val plan = out.queryExecution.executedPlan.toString
    // the corpus-sized (doc,bucket) rollup must join the 32-row lr table
    // by broadcast — a sort-merge here would re-shuffle the corpus on the
    // bucket id, the wrong key at any scale
    assert(plan.contains("BroadcastHashJoin"), s"lr join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus re-shuffled on bucket:\n$plan")
  }

  test("round-7 batch-5 ops: per-row kernels don't shuffle, folds partition by key, joins stay equi") {
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString

    // randomProjection and rendezvousShard are pure per-row maps
    val emb = (1 to 100).map(i => (i.toLong, Array.fill(8)(i.toFloat)))
      .toDF("vec_id", "embedding")
    assert(!plan(SimilarityOps.randomProjection(emb, col("vec_id"),
        col("embedding"), 8, 4, "s")).contains("Exchange"),
      "randomProjection must not shuffle")
    val keys = (1 to 100).map(_.toLong).toDF("k")
    assert(!plan(keys.select(graft.functions.TextFunctions
        .rendezvousShard(col("k"), 8))).contains("Exchange"),
      "rendezvousShard must not shuffle")

    // keyed folds / profiles: never a single-partition collapse, no cartesian
    val ev = (1 to 400).map(i =>
      (s"g${i % 3}", i.toLong, i.toLong, (i % 13).toDouble))
      .toDF("g", "t", "id", "x")
    for ((name, df) <- Seq(
        "holtLinear" -> StatsOps.holtLinear(ev, col("g"), col("t"),
          col("id"), col("x"), 0.3, 0.1),
        "spearman" -> StatsOps.spearman(ev, Seq(col("g")), col("t"),
          col("x")),
        "anovaF" -> StatsOps.anovaF(ev, Seq(col("g")), col("id") % 2,
          col("x")),
        "zoneMaps" -> QualityOps.zoneMaps(ev, col("g"), Seq("x")),
        "lexicalStats" -> CorpusOps.lexicalStats(
          ev.select(col("id"), col("g").as("text")), col("id"),
          col("text")))) {
      val p = plan(df)
      assert(!p.contains("Exchange SinglePartition"),
        s"$name collapsed to one partition:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name went cartesian")
    }
    // fdViolations releases a ONE-ROW summary: its final agg correctly
    // funnels partials to a single partition — assert the heavy (lhs,rhs)
    // stage underneath still partitions by key
    val fdPlan = plan(QualityOps.fdViolations(ev, Seq(col("g")), col("x")))
    assert(fdPlan.contains("Exchange hashpartitioning"),
      s"fdViolations cell stage must shuffle on the key:\n$fdPlan")
    assert(!fdPlan.contains("CartesianProduct"))

    // graph ops: every join equi-keyed, never a nested loop
    val edges = (1 to 300).map(i => (i.toLong, (i % 37).toLong))
      .toDF("src", "dst")
    for ((name, df) <- Seq(
        "clusteringCoefficient" -> GraphOps.clusteringCoefficient(edges),
        "kCore" -> GraphOps.kCore(edges, 2, 2))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name must stay equi-joined:\n$p")
    }
  }

  test("rank/cumsum stats plan WINDOWLESS on fat groups; cusum pins its contract") {
    // 3 fat groups over the whole table — the shape where a per-group
    // rank/cumsum window serializes each group's sort into ONE task.
    // Every converted op must plan with no Window operator at all (the
    // two-level range-partition helpers replace them).
    val df = (1L to 20000L)
      .map(i => (i % 3, (i * 2654435761L) % 1000, i))
      .toDF("g", "x", "id")
    val converted = Seq(
      "gini" -> StatsOps.gini(df, Seq(col("g")), col("x")),
      "trimmedMean" ->
        StatsOps.trimmedMean(df, Seq(col("g")), col("x"), 0.1),
      "mannWhitneyU" -> StatsOps.mannWhitneyU(df, Seq(col("g")),
        col("id") % 2 === 0, col("x")),
      "ksTest" -> StatsOps.ksTest(df, Seq(col("g")),
        col("id") % 2 === 0, col("x")),
      "weightedQuantile" -> StatsOps.weightedQuantile(df, Seq(col("g")),
        col("x"), lit(1), 0.5))
    converted.foreach { case (name, q) =>
      assert(q.collect().nonEmpty, name)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name: fat-group window crept back:\n$plan")
    }
    // cusum stays windowed BY CONTRACT (running-min excursion is
    // sequential per group; docstring pins the per-group-size bound).
    // The fat-group point: one group spanning the table completes, the
    // plan is the documented per-group window — and cusumWide (the
    // boundary-carried two-level scan) reproduces it VALUE FOR VALUE
    // with zero Window operators.
    val fat = (1L to 20000L).map(i => (i % 2, i, (i * 48271L) % 997))
      .toDF("g", "id", "x")
    val c = StatsOps.cusum(fat, Seq(col("g")), col("id"), col("id"),
      col("x"))
    assert(c.queryExecution.executedPlan.toString.contains("Window"),
      "cusum's documented formulation is the per-group window")
    val wide = StatsOps.cusumWide(fat, Seq(col("g")), col("id"), col("id"),
      col("x"))
    val cRows = c.orderBy("g").collect().map(_.toSeq).toSeq
    val wRows = wide.orderBy("g").collect().map(_.toSeq).toSeq
    assert(cRows === wRows, "two formulations must agree row for row")
    assert(!wide.queryExecution.executedPlan.toString.contains("Window"),
      "cusumWide must plan windowless")
  }

  test("invertedIndex and capPerGroup run on the native top-k operator, not a window") {
    val docs = (1 to 500)
      .map(i => (i.toLong, s"d${i % 17}", s"tok${i % 7} tok${i % 11} common"))
      .toDF("id", "domain", "text")
    val inv = MapOps.invertedIndex(docs, col("id"), col("text"), 3)
    val cap = CorpusOps.capPerGroup(docs, col("domain"), col("id"), 5)
    for ((name, q) <- Seq("invertedIndex" -> inv, "capPerGroup" -> cap)) {
      assert(q.collect().nonEmpty, name)
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("Window"),
        s"$name: per-key window crept back:\n$p")
      assert(p.contains("TopKPerKey"),
        s"$name must plan through the native TopKPerKey operator:\n$p")
    }
  }

  test("two-level templates pin their sort: result lineage has no shuffle") {
    // The templates run TWO passes over the range-sorted data (summary
    // collect + offset-seeded map). Pinning (eager localCheckpoint inside
    // pinnedRangeSort) means the sort executed exactly ONCE during the
    // call; the proof is structural — the returned result's RDD lineage
    // bottoms out in the checkpointed blocks, so NO ShuffleDependency is
    // reachable and a consumer action cannot re-execute the range
    // exchange (nor depend on nondeterministic re-partitioning for
    // offset alignment).
    def hasShuffleDep(rdd: org.apache.spark.rdd.RDD[_]): Boolean = {
      val seen = scala.collection.mutable.Set.empty[Int]
      def walk(r: org.apache.spark.rdd.RDD[_]): Boolean =
        seen.add(r.id) && (r.dependencies.exists {
          case _: org.apache.spark.ShuffleDependency[_, _, _] => true
          case d => walk(d.rdd)
        })
      walk(rdd)
    }
    val sc = spark.sparkContext
    val pinnedBefore = sc.getPersistentRDDs.keySet
    val df = (1L to 5000L).map(i => (i % 3, (i * 48271L) % 997, i))
      .toDF("g", "x", "id")
    val templates = Seq(
      "globalRowNumber" -> SortOps.globalRowNumber(df,
        Seq(col("g"), col("x"), col("id")), "rn"),
      "globalCumSum" -> SortOps.globalCumSum(df,
        Seq(col("g"), col("x"), col("id")), col("x"), "cum"),
      "globalCumSums" -> SortOps.globalCumSums(df,
        Seq(col("g"), col("x"), col("id")), Seq(lit(1L), col("x")),
        Seq("c1", "c2")),
      "groupedRunningMin" -> SortOps.groupedRunningMin(df, Seq("g"),
        Seq(col("g"), col("id")), col("x"), "rm"))
    templates.foreach { case (name, out) =>
      assert(!hasShuffleDep(out.queryExecution.toRdd),
        s"$name: result lineage reaches a ShuffleDependency — the sort " +
          "is not pinned and would re-execute on consumption")
      assert(out.count() == 5000L, name)
    }
    // and the pinned blocks are actually released by releaseLineage
    // (scoped to the RDDs THIS test pinned — the session is shared)
    val added = sc.getPersistentRDDs.keySet -- pinnedBefore
    assert(added.nonEmpty, "templates should have pinned checkpoints")
    templates.foreach { case (_, out) => graft.core.Checkpoints.releaseLineage(out) }
    val left = sc.getPersistentRDDs.keySet.intersect(added)
    assert(left.isEmpty, s"releaseLineage left pinned RDDs: $left")
  }

  test("spark.graft.pinnedSort=false falls back to unpinned sorts, same answers") {
    // the reliability-sensitive escape hatch (r10): no checkpoint blocks
    // pinned, lineage recomputes on failure — and on a deterministic
    // source the two-level answers are unchanged
    val sc = spark.sparkContext
    val df = (1L to 4000L).map(i => (i % 3, (i * 69621L) % 991, i))
      .toDF("g", "x", "id")
    val order = Seq(col("g"), col("x"), col("id"))
    val pinned = SortOps.globalRowNumber(df, order, "rn")
      .select("id", "rn").as[(Long, Long)].collect().toMap
    val before = sc.getPersistentRDDs.keySet
    spark.conf.set("spark.graft.pinnedSort", "false")
    try {
      val out = SortOps.globalRowNumber(df, order, "rn")
      assert(out.select("id", "rn").as[(Long, Long)].collect().toMap
        === pinned, "unpinned fallback must produce identical row numbers")
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
        "unpinned mode must not pin checkpoint blocks")
    } finally spark.conf.unset("spark.graft.pinnedSort")
  }
}
