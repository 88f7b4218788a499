package graft.tools

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.functions._

import graft.core.Graft
import graft.operators.{DedupOps, SimilarityOps}
import graft.sources.TxLog
import graft.streaming.{ProbeSink, TxLogChangeStream}

/** The scale scenarios behind `BENCH_SCALE.json`, as one parameterised
  * main (the reference keeps MRBench, NNBench and TestDFSIO the same way):
  *
  * {{{
  * runMain graft.tools.ScaleSuite <scenario> [points] [repeat]
  * }}}
  *
  * `points` is a comma-separated list of sizes on the scenario's own axis
  * (dirs, files, leaves, writers, factors or k; two scenarios have no
  * axis and take none), `-` for the scenario's default sweep; `repeat`
  * (default 3) is the min-of-N count for
  * every timing. Input tables come from `$SPARK_GRAFT_SF_DIR` (default
  * sf0.1). Each result row prints as one JSON line carrying `scenario`,
  * `cpus`, `sf` and `repeat` ahead of the scenario's own fields, and each
  * scenario's `require`s fail the run when its invariant breaks.
  */
object ScaleSuite {
  type Row = Map[String, Any]

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && args.length <= 3,
      s"usage: ScaleSuite <scenario> [points] [repeat]; scenarios: $names")
    val points = args.lift(1).filter(_ != "-").toSeq
      .flatMap(_.split(",")).map(_.trim.toInt)
    val repeat = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Graft.session(s"scale-${args(0)}")
    try { run(spark, args(0), points, repeat); () } finally spark.stop()
  }

  /** Runs `scenario` at `points` (empty = its default sweep), printing
    * and returning one row per result. */
  def run(spark: SparkSession, scenario: String, points: Seq[Int],
      repeat: Int): Seq[Row] = {
    val sc = scenarios.getOrElse(scenario, throw new IllegalArgumentException(
      s"unknown scenario '$scenario'; scenarios: $names"))
    require(repeat >= 1, s"repeat must be >= 1: $repeat")
    require(points.isEmpty || sc.axis.nonEmpty,
      s"scenario '$scenario' takes no points")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val ctx = new Ctx(spark, sf, repeat, ListMap("scenario" -> scenario,
      "cpus" -> spark.sparkContext.defaultParallelism, "sf" -> sf,
      "repeat" -> repeat))
    sc.body(ctx, if (points.isEmpty) sc.defaults else points)
    ctx.rows.toSeq
  }

  private final case class Scenario(axis: String, defaults: Seq[Int],
      body: (Ctx, Seq[Int]) => Unit)

  private val scenarios = ListMap(
    "listing" -> Scenario("dirs", Seq(1024, 4096, 16384), listing),
    "manifest" -> Scenario("files", Seq(65536, 262144, 1048576), manifest),
    "multi_writer" -> Scenario("writers", Seq(2, 4, 8), multiWriter),
    "pq_recall" -> Scenario("k", Seq(8, 64), pqRecall),
    "replace_where" -> Scenario("files", Seq(16, 64, 256), replaceWhere),
    "row_verbs" -> Scenario("", Nil, rowVerbs),
    "scan_prune" -> Scenario("leaves", Seq(16, 64, 256), scanPrune),
    "sigstore" -> Scenario("", Nil, sigStore),
    "sink" -> Scenario("files", Seq(64, 256, 1024), sink),
    "subscription" -> Scenario("factors", Seq(1, 10), subscription))

  private def names: String = scenarios.keys.mkString(", ")

  /** The harness every scenario shares: timing, min-of-repeat, table
    * lifecycle, conf restore and row output. */
  private final class Ctx(val spark: SparkSession, val sf: String,
      val repeat: Int, header: ListMap[String, Any]) {
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]

    def emit(fields: (String, Any)*): Unit = {
      val row = header ++ fields
      println(row.map { case (k, v) => s""""$k":${json(v)}""" }
        .mkString("{", ",", "}"))
      rows += row
    }

    def timed(body: => Any): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    /** Min over `repeat` runs of `f(r)`, which returns its own time. */
    def bestOf(f: Int => Double): Double = (1 to repeat).map(f).min

    def best(body: => Any): Double = bestOf(_ => timed(body))

    /** `body`'s result and the Spark jobs it started — the mechanism
      * figure next to a timing. */
    def jobsOf[T](body: => T): (T, Int) =
      org.apache.spark.sql.graftbridge.SqlBridge.jobsOf(spark)(body)

    /** `repeat` runs of each of two contrast arms, after one untimed
      * warm-up run apiece, alternating which arm goes first on each
      * repeat so neither always pays the colder JVM. Returns each arm's
      * per-repeat results. */
    def interleaved[T](a: => T, b: => T): (Seq[T], Seq[T]) = {
      a; b
      val runs = (1 to repeat).map { r =>
        if (r % 2 == 1) { val x = a; (x, b) }
        else { val y = b; (a, y) }
      }
      (runs.map(_._1), runs.map(_._2))
    }

    /** `body` on a fresh table root in the dataset's scratch root
      * ([[Graft.scratch]]), destroyed before and after. */
    def withTable[T](name: String)(body: String => T): T = {
      val root = Graft.scratch(sf, s"scale_$name")
      TxLog.destroy(root)
      try body(root) finally TxLog.destroy(root)
    }

    def withSqlConf[T](key: String, value: String)(body: => T): T = {
      val prior = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  private def json(v: Any): String = v match {
    case s: String  => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case o: Option[_] => o.fold("null")(json)
    case other      => other.toString
  }

  private def round(x: Double, digits: Int): Double = {
    val scale = math.pow(10, digits)
    math.round(x * scale) / scale
  }

  /** Per-arm minimum over repeats of several timings taken together. */
  private def minEach(runs: Seq[Seq[Double]]): Seq[Double] =
    runs.transpose.map(ts => round(ts.min, 3))

  /** Scan-planning cost of a many-leaf table: `plan_s` is snapshot
    * resolution plus the stats-aware FileIndex's listing of every leaf
    * plus plan build, no job. Each leaf is a real one-file batch dir (one
    * tiny parquet byte-copied per leaf: the listing is measured, not the
    * decode). Claim: the 16-thread parallel listing keeps `us_per_dir`
    * an order of magnitude under the serial per-leaf round-trip. */
  private def listing(c: Ctx, dirs: Seq[Int]): Unit = dirs.foreach { n =>
    c.withTable(s"listing_$n") { root =>
      import c.spark.implicits._
      val seedDir = s"$root/seed"
      Seq((1L, 1.0)).toDF("id", "value").coalesce(1).write.parquet(seedDir)
      val seed = new java.io.File(seedDir).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      (0 until n).foreach { i =>
        val d = new java.io.File(s"$root/data/leaf_$i")
        d.mkdirs()
        java.nio.file.Files.copy(seed, d.toPath.resolve("part-00000.parquet"))
      }
      (0 until n).grouped(4096).foreach { g =>
        TxLog.commitWithStats(root, g.map(i =>
          s"$root/data/leaf_$i" -> Some(s"id;$i.0;$i.0")))
      }
      TxLog.checkpoint(root)
      TxLog.expireManifests(root)
      val planS = c.best(TxLog.read(c.spark, root).queryExecution.executedPlan)
      c.emit("dirs" -> n, "plan_s" -> round(planS, 3),
        "us_per_dir" -> math.round(planS * 1e6 / n))
    }
  }

  /** Driver-resident snapshot state across a live-file decade: a log of
    * `files` log-only entries with two-column stats blobs (the log is the
    * cost surface, no data file is opened), then `checkpoint_s` (full
    * streamed checkpoint plus its parquet twin), `resolve_s` (checkpoint-
    * seeded `snapshot`), `twin_prune_s` (survivor selection as a
    * distributed filter over the twin), `commit_s` (one more append),
    * `partspec_s` (backward-walk spec lookup) and `heap_mb` (retained
    * bytes of one resolved snapshot's entries). `heap_mb` and
    * `bytes_per_entry` print null below 10^5 files: the two-`System.gc()`
    * settle is noisier than a small snapshot's retained bytes (4096
    * files read -0.6 MB), so there the figure is meaningless rather than
    * small. Claim: `commit_s`, `partspec_s` and `twin_prune_s` stay flat
    * while checkpoint and resolve grow linearly, single-digit seconds at
    * a million files. */
  private def manifest(c: Ctx, files: Seq[Int]): Unit = files.foreach { n =>
    c.withTable(s"manifest_$n") { root =>
      (0 until n).grouped(4096).foreach { g =>
        TxLog.commitWithStats(root, g.map { i =>
          s"$root/data/batch_${i / 4096}/leaf_$i" ->
            Some(s"value;$i.0;${i + 1}.5,ts;1.7040E9;1.7041E9")
        })
      }
      val checkpointS = c.bestOf { _ =>
        // checkpointing is idempotent per version: drop the text file and
        // its twin so every repeat pays the full write
        val v = TxLog.latestVersion(root)
        val cp = new org.apache.hadoop.fs.Path(s"$root/_txlog", f"c$v%08d.json")
        val fs = cp.getFileSystem(c.spark.sparkContext.hadoopConfiguration)
        fs.delete(cp, false)
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$root/_txlog", f"c$v%08d.entries.parquet"), true)
        c.timed(TxLog.checkpoint(root))
      }
      TxLog.expireManifests(root) // the maintained-table steady state
      val resolveS = c.best(require(TxLog.snapshot(root).entries.size == n))
      val twinPruneS = c.best {
        val hits = TxLog.prunedEntryCount(c.spark, root, "value", 8.0, 9.0)
        require(hits.exists(h => h >= 1 && h <= 4),
          s"twin survivor selection off: $hits")
      }
      val commitS = c.bestOf(r => c.timed(TxLog.commitWithStats(root,
        Seq(s"$root/data/extra_$r" -> Some("value;-1.0;-0.5")))))
      val partspecS = c.best(TxLog.partitionSpec(root))
      val rt = Runtime.getRuntime
      def settledUsed(): Long = {
        System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(200)
        rt.totalMemory() - rt.freeMemory()
      }
      val before = settledUsed()
      var held: Seq[(String, Option[String])] = TxLog.snapshot(root).entries
      require(held.size >= n)
      val after = settledUsed()
      held = null
      val heldBytes = Some(after - before).filter(_ => n >= 100000)
      c.emit("live_files" -> n, "checkpoint_s" -> round(checkpointS, 3),
        "resolve_s" -> round(resolveS, 3),
        "twin_prune_s" -> round(twinPruneS, 3),
        "commit_s" -> round(commitS, 5), "partspec_s" -> round(partspecS, 5),
        "heap_mb" -> heldBytes.map(b => round(b / 1048576.0, 1)),
        "bytes_per_entry" -> heldBytes.map(b => math.round(b.toDouble / n)))
    }
  }

  /** Concurrent-writer throughput of the claim contract: N appender
    * threads land `CommitsPerWriter` log-only commits each on one table
    * while a compactor folds the 4 oldest leaves into one, pinned at the
    * version after the latest it read (the OPTIMIZE conflict shape), and
    * checkpoints every 8 rounds. Every writer retries a lost race after
    * [[TxLog.raceBackoff]], appenders within the production 64-attempt
    * bound. Both claim arms run per N: the local scheme claim and
    * [[LatencyClaim]]'s +40 ms object-store round-trip. Rows report
    * throughput, appender retries per commit, success-only p50/p99
    * latency, exhausted appends (`failed`), and the compactor's rounds
    * and retries. Claim: no livelock (`failed` 0), p99 growing with N,
    * throughput not collapsing, the compactor not starved. */
  private def multiWriter(c: Ctx, writers: Seq[Int]): Unit =
    for (n <- writers; claimMs <- Seq(0, LatencyClaim.DelayMs)) {
      val hc = c.spark.sparkContext.hadoopConfiguration
      val prior = Option(hc.get("graft.txlog.claim"))
      if (claimMs > 0) hc.set("graft.txlog.claim", classOf[LatencyClaim].getName)
      try c.withTable(s"multi_writer_${n}_$claimMs") { root =>
        // a seed live set so the compactor has files to fold from round 0
        TxLog.commitWithStats(root,
          (0 until 64).map(i => s"$root/data/seed_$i" -> Some(s"v;$i.0;$i.0")))
        val retries = new AtomicLong
        val failed = new AtomicLong
        val latenciesNs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
        val writerThreads = (0 until n).map { w =>
          new Thread(() => (0 until CommitsPerWriter).foreach { i =>
            val t0 = System.nanoTime()
            var attempt = 0
            var done = false
            while (!done) {
              attempt += 1
              try {
                TxLog.commitWithStats(root,
                  Seq(s"$root/data/w${w}_b$i" -> Some(s"v;$i.0;$i.0")))
                // success latencies only: an exhausted commit is a
                // failure, not a p50/p99 sample
                latenciesNs.add(System.nanoTime() - t0)
                done = true
              } catch {
                case _: TxLog.LostRace =>
                  retries.incrementAndGet()
                  if (attempt >= 64) { failed.incrementAndGet(); done = true }
                  else TxLog.raceBackoff(attempt)
              }
            }
          }, s"writer-$w")
        }
        val stop = new AtomicBoolean(false)
        val compactRounds = new AtomicLong
        val compactorRetries = new AtomicLong
        val compactor = new Thread(() => {
          var round = 0
          while (!stop.get()) {
            round += 1
            var done = false
            var attempt = 0
            while (!done && !stop.get()) {
              attempt += 1
              // victims first, then the pin: appends never remove a
              // victim, so only a commit landing between this read and
              // the claim loses the race (pinning before the full
              // resolve lost nearly every round to local appends)
              val victims = TxLog.liveFiles(root).take(4)
              val v = TxLog.latestVersion(root)
              try {
                TxLog.commitWithStats(root,
                  Seq(s"$root/data/compact_${round}_$attempt" ->
                    Some("v;0.0;1000000.0")),
                  remove = victims, atVersion = v + 1)
                done = true
                compactRounds.incrementAndGet()
              } catch {
                case _: TxLog.LostRace =>
                  compactorRetries.incrementAndGet()
                  TxLog.raceBackoff(attempt)
              }
            }
            if (round % 8 == 0) { TxLog.checkpoint(root); () }
          }
        }, "compactor")
        val wallS = c.timed {
          compactor.start(); writerThreads.foreach(_.start())
          writerThreads.foreach(_.join())
          stop.set(true); compactor.join()
        }
        val lats = latenciesNs.asScala.toArray.sorted
        def pct(p: Double): Double = lats((p * (lats.length - 1)).toInt) / 1e6
        val commits = n * CommitsPerWriter
        c.emit("writers" -> n, "claim_ms" -> claimMs, "commits" -> commits,
          "throughput_cps" -> round(commits / wallS, 1),
          "retry_per_commit" -> round(retries.get.toDouble / commits, 3),
          "p50_ms" -> round(pct(0.50), 1), "p99_ms" -> round(pct(0.99), 1),
          "failed" -> failed.get, "compact_rounds" -> compactRounds.get,
          "compactor_retries" -> compactorRetries.get)
        require(failed.get == 0, s"append exhausted its retry bound at N=$n")
        require(TxLog.snapshot(root).entries.nonEmpty)
      } finally prior.fold(hc.unset("graft.txlog.claim"))(
        hc.set("graft.txlog.claim", _))
    }

  private val CommitsPerWriter = 50

  /** Recall@5 of PQ top-k with codebooks of size k under the two seeding
    * rules, the `k` lowest ids (id-correlated: on a corpus whose ingest
    * order tracks content it trains on the oldest slice) and the
    * portable md5-order hash sample, against exact squared-L2 top-5
    * ground truth for 50 mid-range query ids. Claim: the hash draw keeps
    * determinism without losing recall. */
  private def pqRecall(c: Ctx, ks: Seq[Int]): Unit = {
    val topK = 5
    val emb = Graft.table(c.spark, c.sf, "embeddings")
      .select(col("vec_id"), col("embedding")).cache()
    try {
      // mid-range ids: disjoint from the low-id codebook's training slice
      // (queries inside it would hand that arm free recall) and unlikely
      // to overlap the small md5 sample
      val queries = emb.filter(col("vec_id") >= 250 && col("vec_id") < 300)
      // exact ground truth, same rounding and tiebreaks as the PQ ranking
      val truth = {
        val cv = emb.select(col("vec_id").as("nbr_id"),
          col("embedding").cast("array<double>").as("cv"))
        val qv = queries.select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
        val d = F.round(
          SimilarityOps.dot(col("qv"), col("qv"))
            - F.lit(2.0) * SimilarityOps.dot(col("qv"), col("cv"))
            + SimilarityOps.dot(col("cv"), col("cv")), 6)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("dist").asc, col("nbr_id"))
        cv.join(F.broadcast(qv), col("nbr_id") =!= col("query_id"))
          .select(col("query_id"), col("nbr_id"), d.as("dist"))
          .withColumn("rank", F.row_number().over(w))
          .filter(col("rank") <= topK)
          .select("query_id", "nbr_id")
          .collect().groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq }
      }
      def recallOf(cb: Array[Array[Array[Double]]]): Double = {
        val got = SimilarityOps.pqTopK(emb, queries, topK, cb)
          .select("query_id", "nbr_id")
          .collect().groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
        val hits = truth.toSeq.map { case (q, t) =>
          t.count(got.getOrElse(q, Set.empty)).toDouble / t.size
        }
        hits.sum / hits.size
      }
      ks.foreach { k =>
        // an exactly-k frame is draw-order-invariant: the low-id codebook
        val lowId = SimilarityOps.pqCodebook(
          emb.orderBy("vec_id").limit(k), m = 4, k = k)
        val hashed = SimilarityOps.pqCodebook(emb, m = 4, k = k)
        c.emit("k" -> k, "topk" -> topK,
          "recall_low_id" -> round(recallOf(lowId), 4),
          "recall_md5" -> round(recallOf(hashed), 4))
      }
    } finally { emb.unpersist(); () }
  }

  /** REPLACE WHERE write cost across a file-count decade: `files`
    * value-band leaves of 50k rows each, landed in one partitioned write
    * with exact per-leaf stats, then a same-size reload of `value` in
    * [0,1). Claim: stats pruning confines the replace to the window's one
    * file at every size, so `replace_s` stays flat in the untouched-file
    * population. */
  private def replaceWhere(c: Ctx, files: Seq[Int]): Unit = files.foreach { f =>
    c.withTable(s"replace_where_$f") { root =>
      val rowsPer = RowsPerLeaf
      val staging = s"$root/staging"
      // value = band + frac, so each leaf's exact stats are [band, band+1)
      c.spark.range(f * rowsPer)
        .select(col("id"), (col("id") % f).cast("int").as("band"),
          ((col("id") % f).cast("double") +
            (col("id") % 1000).cast("double") / 1000.0).as("value"))
        .write.partitionBy("band").parquet(staging)
      (0 until f).grouped(512).foreach { g =>
        TxLog.commitWithStats(root, g.map(b =>
          s"$staging/band=$b" -> Some(s"value;$b.0;${b + 1}.0")))
      }
      val before = TxLog.liveFiles(root).size
      val reload = c.spark.range(rowsPer)
        .select(col("id"), lit(0).as("band"),
          ((col("id") % 997).cast("double") / 997.0).as("value"))
      var rewritten = -1
      val replaceS = c.bestOf { r =>
        val liveBefore = TxLog.liveFiles(root).toSet
        val s = c.timed(TxLog.replaceWhere(c.spark, root, s"reload_$r", reload,
          col("value") >= 0.0 && col("value") < 1.0, autoStatsCols = 2))
        rewritten = (liveBefore -- TxLog.liveFiles(root)).size
        s
      }
      c.emit("files" -> before, "rows" -> f * rowsPer,
        "replace_s" -> round(replaceS, 3),
        "files_rewritten_per_repeat" -> rewritten,
        "untouched_files" -> (before - 1))
    }
  }

  private val RowsPerLeaf = 50000L

  /** File pruning of the row-level verbs, measured: lineitem lands as 16
    * key-range batches with `l_orderkey` stats; a DELETE, a MERGE and an
    * UPDATE each confined to one batch's key range must rewrite 1 of 16
    * files, against OPTIMIZE(4) as the full-table rewrite contrast. A
    * second table ingests lineitem partitioned by `l_partkey % 16`: the
    * point probe reads one leaf, the full scan all 16. Claim: the verbs
    * and the point probe track touched bytes, the full rewrite and full
    * scan track table bytes (~10x between sf0.1 and `target/scale10`).
    * `delete_jobs`, `merge_jobs` and `update_jobs` are each verb's Spark
    * job count on the last repeat — the per-verb floor the timings sit
    * on. */
  private def rowVerbs(c: Ctx, points: Seq[Int]): Unit = {
    val spark = c.spark
    val li = Graft.table(spark, c.sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val rows = li.count()
    val maxKey = li.agg(max("l_orderkey")).head().getLong(0)
    val width = maxKey / 16 + 1
    def rewrote(root: String, tag: String): Int =
      TxLog.liveFiles(root).count(_.contains(tag))
    val verbs = (1 to c.repeat).map { r => c.withTable("row_verbs") { root =>
      (0 until 16).foreach { b =>
        val batch = li.filter(floor(col("l_orderkey") / width) === b)
        TxLog.commitWithStats(root, Seq(TxLog.writeBatch(batch, root, s"b$b") ->
          TxLog.columnStats(batch, "l_orderkey")))
      }
      // DELETE confined to batch 3's key range (half its part keys)
      val (delS, delJobs) = c.jobsOf(c.timed(TxLog.deleteWhere(spark, root,
        s"del$r", col("l_orderkey") >= 3 * width &&
          col("l_orderkey") < 4 * width && col("l_partkey") % 2 === 0)))
      val delRewrote = rewrote(root, s"del${r}_")
      // MERGE whose source keys live in batch 5, plus out-of-range inserts
      val src = li.filter(floor(col("l_orderkey") / width) === 5 &&
          col("l_partkey") % 7 === 0)
        .groupBy("l_orderkey").agg(max("l_partkey").as("l_partkey"),
          sum("l_quantity").as("l_quantity"))
        .withColumn("l_quantity", col("l_quantity") + 1.0)
      val inserts = src.limit(1000)
        .withColumn("l_orderkey", col("l_orderkey") + maxKey + 1)
      val (mergeS, mergeJobs) = c.jobsOf(c.timed(TxLog.merge(spark, root,
        s"m$r", src.unionByName(inserts), Seq("l_orderkey"))))
      val mergeRewrote = rewrote(root, s"m${r}_d")
      // UPDATE confined to batch 7's key range
      val (updS, updJobs) = c.jobsOf(c.timed(TxLog.updateWhere(spark, root,
        s"u$r", col("l_orderkey") >= 7 * width &&
          col("l_orderkey") < 8 * width && col("l_partkey") % 2 === 0,
        Seq("l_quantity" -> (col("l_quantity") + 1.0)))))
      val updRewrote = rewrote(root, s"u${r}_d")
      // contrast: the full-table rewrite the verbs exist to avoid
      val optS = c.timed(TxLog.optimize(spark, root, s"opt$r", targetFiles = 4))
      (Seq(delS, mergeS, updS, optS), Seq(delRewrote, mergeRewrote, updRewrote),
        Seq(delJobs, mergeJobs, updJobs))
    }}
    val part = (1 to c.repeat).map { _ => c.withTable("row_verbs_part") { root =>
      val ingestS = c.timed(TxLog.commitPartitioned(spark, root, "p1",
        li.withColumn("tenant", col("l_partkey") % 16), "tenant"))
      val fullS = c.timed(
        TxLog.read(spark, root).agg(sum("l_quantity")).head())
      val pointS = c.timed(TxLog.readPruned(spark, root, "tenant", 3, 3).get
        .filter(col("tenant") === 3).agg(sum("l_quantity")).head())
      (Seq(ingestS, fullS, pointS), TxLog.liveFiles(root).length)
    }}
    val Seq(delS, mergeS, updS, optS) = minEach(verbs.map(_._1))
    val Seq(delRewrote, mergeRewrote, updRewrote) = verbs.last._2
    val Seq(delJobs, mergeJobs, updJobs) = verbs.last._3
    val Seq(ingestS, fullS, pointS) = minEach(part.map(_._1))
    c.emit("rows" -> rows, "delete_s" -> delS, "delete_rewrote" -> delRewrote,
      "delete_jobs" -> delJobs,
      "merge_s" -> mergeS, "merge_rewrote" -> mergeRewrote,
      "merge_jobs" -> mergeJobs,
      "update_s" -> updS, "update_rewrote" -> updRewrote,
      "update_jobs" -> updJobs,
      "full_rewrite_s" -> optS, "leaves" -> part.last._2,
      "ingest_s" -> ingestS, "full_scan_s" -> fullS,
      "point_probe_s" -> pointS)
  }

  /** Scan-planning file skipping across a leaf-count decade: one
    * partitioned ingest lands `leaves` single-file bucket leaves of 50k
    * rows. `leaves` is what the FileIndex plans unfiltered,
    * `plan_point_s`/`plan_point_files` the zero-job planning of a point
    * filter, `query_on_s`/`query_off_s` the point aggregate with
    * skipping on and with `spark.graft.scanPrune=false`, the two arms
    * interleaved ([[Ctx.interleaved]]). Claim:
    * `plan_point_files` stays 1 and `query_on_s` flat while the table
    * grows 16x; `query_off_s` tracks the file count. */
  private def scanPrune(c: Ctx, leaves: Seq[Int]): Unit = leaves.foreach { n =>
    c.withTable(s"scan_prune_$n") { root =>
      val spark = c.spark
      TxLog.commitPartitioned(spark, root, "p0",
        spark.range(n * RowsPerLeaf)
          .select(col("id"), (col("id") % n).cast("int").as("bucket"),
            (col("id") * 7 % 1000).cast("double").as("v"))
          .repartition(col("bucket")), "bucket")
      def filtered = TxLog.read(spark, root).filter(col("bucket") === n / 2)
      val planAllFiles = Graft.plannedFiles(TxLog.read(spark, root))
      var planPointFiles = -1
      val planPointS = c.best { planPointFiles = Graft.plannedFiles(filtered) }
      def runQuery(): Long =
        filtered.agg(sum("v"), count(lit(1))).head().getLong(1)
      val (on, off) = c.interleaved(c.timed(runQuery()),
        c.withSqlConf("spark.graft.scanPrune", "false")(c.timed(runQuery())))
      val (onS, offS) = (on.min, off.min)
      c.emit("leaves" -> planAllFiles, "table_rows" -> n * RowsPerLeaf,
        "plan_point_files" -> planPointFiles,
        "plan_point_s" -> round(planPointS, 3),
        "query_on_s" -> round(onS, 3), "query_off_s" -> round(offS, 3))
    }
  }

  /** Bytes of the persisted MinHash signature store in its two shapes,
    * full shingle strings per row against 8-byte xxhash64 digests, for
    * the `documents` corpus: on disk as parquet, and as raw payload (what
    * rides the verify joins' shuffles; parquet's dictionary coding
    * flatters the on-disk strings). */
  private def sigStore(c: Ctx, points: Seq[Int]): Unit = {
    val docs = Graft.table(c.spark, c.sf, "documents")
      .select(col("doc_id"), col("text"))
    val n = docs.count()
    def bytesOf(p: String): Long = java.nio.file.Files.walk(
      java.nio.file.Paths.get(p)).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum
    c.withTable("sigstore_shingles") { oldOut =>
      c.withTable("sigstore_digests") { newOut =>
        DedupOps.shingleSignatures(docs, col("doc_id"), col("text"), 5, 8)
          .write.parquet(oldOut)
        DedupOps.minhashSignatures(docs, col("doc_id"), col("text"), 5, 4, 2)
          .write.parquet(newOut)
        val (ob, nb) = (bytesOf(oldOut), bytesOf(newOut))
        val raw = c.spark.read.parquet(oldOut)
          .select(
            aggregate(transform(col("shingles"), s => octet_length(s)),
              lit(0L), (a, x) => a + x).as("sb"),
            (size(col("shingles")) * 8L).as("db"))
          .agg(sum(col("sb")), sum(col("db"))).head()
        val (rawS, rawD) = (raw.getLong(0), raw.getLong(1))
        c.emit("docs" -> n, "shingle_store" -> ob, "digest_store" -> nb,
          "disk_ratio" -> round(ob.toDouble / nb, 2),
          "raw_shingle_payload" -> rawS, "raw_digest_payload" -> rawD,
          "raw_ratio" -> round(rawS.toDouble / rawD, 2))
      }
    }
  }

  /** The streaming sink's per-trigger idempotence probe across a
    * live-file decade: `files` log-only entries, a checkpoint, then one
    * real sink batch carrying its txn mark. `mark_probe_s` is
    * `TxLog.txnVersion`, `replay_skip_s` a replayed `addBatch`
    * short-circuit, `scan_probe_s` the legacy `liveFiles` string scan.
    * Claim: the first two stay flat while the scan tracks live files. */
  private def sink(c: Ctx, files: Seq[Int]): Unit = files.foreach { n =>
    c.withTable(s"sink_$n") { root =>
      import c.spark.implicits._
      // live-set size is what scales, not commit count: 64 adds a commit
      (0 until n).grouped(64).foreach { g =>
        TxLog.commit(root, g.map(i => s"$root/data/bulk_$i"))
      }
      // the sink's trigger commits land above a checkpoint, so the mark
      // walk reads the sink's one-line manifest, not the checkpoint body
      TxLog.checkpoint(root)
      TxLog.expireManifests(root)
      val sink = ProbeSink.make(c.spark, root, "probe")
      sink.addBatch(0, Seq((1L, 1.0)).toDF("id", "v"))
      val markS = c.best(TxLog.txnVersion(root, "graft-sink-probe"))
      val replayS = c.best(sink.addBatch(0, Seq((1L, 1.0)).toDF("id", "v")))
      val scanS = c.best {
        val suffix = "/data/sink_probe_b0"
        TxLog.liveFiles(root).exists(p => p.endsWith(suffix) ||
          p.contains(suffix + "_r") || p.contains(suffix + "/"))
      }
      c.emit("live_files" -> TxLog.liveFiles(root).size,
        "mark_probe_s" -> round(markS, 5),
        "replay_skip_s" -> round(replayS, 5),
        "scan_probe_s" -> round(scanS, 5))
    }
  }

  /** Change-feed subscription cost across table-size factors: lineitem
    * replicated `factor` times (key-offset replicas) in 8 key-range
    * batches, then per repeat against a fixed delta of ~1/8 of the base
    * table: `idle_s` (a caught-up poll, one log listing), `append_s`
    * (deliver one append window to a noop sink), `dv_window_s` (one
    * deletion-vector window confined to the delta file) and `snapshot_s`
    * (full snapshot aggregate, the contrast that tracks table size).
    * Claim: the first three stay flat across factors. A delete smeared
    * across every file would cost its touched files' bytes; "O(delta)"
    * is exact for appends and file-confined changes. */
  private def subscription(c: Ctx, factors: Seq[Int]): Unit = {
    val spark = c.spark
    val li = Graft.table(spark, c.sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val baseRows = li.count()
    val maxKey = li.agg(max("l_orderkey")).head().getLong(0) + 1
    def drainOne(sub: TxLogChangeStream, what: String): Unit = {
      val n = sub.drain((df, _, _) =>
        df.write.mode("overwrite").format("noop").save())
      require(n == 1, s"expected one $what window, got $n")
    }
    factors.foreach { factor => c.withTable(s"subscription_f$factor") { root =>
      val scaled = (0 until factor).map { r =>
        if (r == 0) li
        else li.withColumn("l_orderkey", col("l_orderkey") + lit(r * maxKey))
      }.reduce(_ unionByName _)
      val width = factor * maxKey / 8 + 1
      (0 until 8).foreach { b =>
        TxLog.commit(root, Seq(TxLog.writeBatch(
          scaled.filter(floor(col("l_orderkey") / width) === b), root, s"b$b")))
      }
      // keys offset past every replica: the delta file is disjoint
      val deltaKeyBase = (factor.toLong + 1000) * maxKey
      val delta = li.filter(col("l_orderkey") % 8 === 3)
        .withColumn("l_orderkey", col("l_orderkey") + lit(deltaKeyBase))
      val deltaRows = delta.count()
      val runs = (1 to c.repeat).map { rep =>
        val sub = new TxLogChangeStream(spark, root,
          startAfter = TxLog.latestVersion(root))
        val idleS = c.timed(require(sub.advanceOnce((_, _, _) => ()).isEmpty))
        TxLog.commit(root, Seq(TxLog.writeBatch(delta, root, s"d$rep")))
        val appendS = c.timed(drainOne(sub, "append"))
        // a DV delete confined to the delta file: ~1/5 of its rows
        require(TxLog.deleteWhereDV(spark, root, s"dv$rep",
          col("l_orderkey") >= deltaKeyBase && col("l_partkey") % 5 === 0) > 0)
        val dvS = c.timed(drainOne(sub, "dv"))
        val snapshotS = c.timed(
          TxLog.read(spark, root).agg(sum(col("l_quantity"))).head())
        Seq(idleS, appendS, dvS, snapshotS)
      }
      val Seq(idleS, appendS, dvS, snapshotS) = minEach(runs)
      c.emit("factor" -> factor, "table_rows" -> baseRows * factor,
        "delta_rows" -> deltaRows, "idle_s" -> idleS,
        "append_window_s" -> appendS, "dv_window_s" -> dvS,
        "snapshot_s" -> snapshotS)
    }}
  }
}

/** [[TxLog.ClaimStore]] with an object-store round-trip: sleeps
  * `DelayMs` inside every claim attempt, then delegates to the local
  * scheme claim. A real S3/GCS/ABFS conditional put takes 30-100 ms
  * against ~12 ms locally, and contention (retry budget, p99,
  * phase-lock risk) scales with that latency. Installed through the
  * production seam, `graft.txlog.claim=<this class>`. */
final class LatencyClaim extends TxLog.ClaimStore {
  def claim(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      target: org.apache.hadoop.fs.Path): Boolean = {
    Thread.sleep(LatencyClaim.DelayMs)
    TxLog.SchemeClaim.claim(fs, tmp, target)
  }
}

object LatencyClaim {
  val DelayMs = 40
}
