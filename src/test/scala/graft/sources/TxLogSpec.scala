package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Transaction-log table format: atomic commits, snapshot isolation,
  * time travel, content-neutral compaction, writer races. */
class TxLogSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("txlog").toFile
    d.delete()
    d.getAbsolutePath
  }

  test("commits append versions; snapshots accumulate files") {
    val dir = freshDir()
    val v1 = TxLog.commit(dir,
      Seq(TxLog.writeBatch(Seq(1, 2).toDF("x"), dir, "a")))
    val v2 = TxLog.commit(dir,
      Seq(TxLog.writeBatch(Seq(3).toDF("x"), dir, "b")))
    assert((v1, v2) === ((1, 2)))
    assert(TxLog.latestVersion(dir) === 2)
    assert(TxLog.read(spark, dir).as[Int].collect().sorted.toSeq ===
      Seq(1, 2, 3))
    TxLog.destroy(dir)
  }

  test("time travel replays the log prefix") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(1).toDF("x"), dir, "a")))
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(2).toDF("x"), dir, "b")))
    assert(TxLog.read(spark, dir, asOf = 1).as[Int].collect().toSeq ===
      Seq(1))
    TxLog.destroy(dir)
  }

  test("compaction commit swaps files without changing content") {
    val dir = freshDir()
    val p1 = TxLog.writeBatch(Seq(1, 2).toDF("x"), dir, "a")
    TxLog.commit(dir, Seq(p1))
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(3).toDF("x"), dir, "b")))
    val compacted = TxLog.read(spark, dir, asOf = 1).coalesce(1)
    TxLog.commit(dir, Seq(TxLog.writeBatch(compacted, dir, "a_c")),
      remove = Seq(p1))
    assert(TxLog.read(spark, dir).as[Int].collect().sorted.toSeq ===
      Seq(1, 2, 3), "content must survive the swap")
    assert(TxLog.liveFiles(dir).size === 2)
    assert(!TxLog.liveFiles(dir).contains(p1), "input file retired")
    TxLog.destroy(dir)
  }

  test("racing writers never lose a commit: every add survives") {
    // 8 threads commit concurrently with retry-on-lost-race. Under a
    // non-atomic claim (POSIX rename silently replacing), two writers can
    // both "win" one version and a manifest vanishes — detected here as a
    // missing add or a short version chain.
    val dir = freshDir()
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        var done = false
        while (!done) {
          try { TxLog.commit(dir, Seq(s"/data/f$i")); done = true }
          catch { case _: IllegalStateException => () }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(TxLog.latestVersion(dir) === 8, "one version per writer")
    assert(TxLog.liveFiles(dir).toSet === (1 to 8).map(i => s"/data/f$i").toSet)
    TxLog.destroy(dir)
  }

  test("the table speaks a non-file: Hadoop scheme end to end") {
    GraftFileSystem.register(spark)
    val root = GraftFileSystem.uri(freshDir())
    TxLog.commit(root, Seq(TxLog.writeBatch(Seq(1, 2).toDF("x"), root, "a")))
    TxLog.commit(root, Seq(TxLog.writeBatch(Seq(3).toDF("x"), root, "b")))
    assert(TxLog.read(spark, root).as[Int].collect().sorted.toSeq ===
      Seq(1, 2, 3))
    assert(TxLog.read(spark, root, asOf = 1).as[Int].collect().sorted.toSeq
      === Seq(1, 2))
    TxLog.destroy(root)
  }

  test("checkpoint bounds resolution; pre-checkpoint time travel still replays") {
    val dir = freshDir()
    val p1 = TxLog.writeBatch(Seq(1).toDF("x"), dir, "a")
    TxLog.commit(dir, Seq(p1))
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(2).toDF("x"), dir, "b")))
    val compacted = TxLog.read(spark, dir, asOf = 1).coalesce(1)
    TxLog.commit(dir, Seq(TxLog.writeBatch(compacted, dir, "a_c")),
      remove = Seq(p1))
    assert(TxLog.checkpoint(dir) === 3)
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(4).toDF("x"), dir, "d")))
    assert(TxLog.read(spark, dir).as[Int].collect().sorted.toSeq ===
      Seq(1, 2, 4))
    // time travel BELOW the checkpoint ignores it and replays manifests
    assert(TxLog.read(spark, dir, asOf = 2).as[Int].collect().sorted.toSeq
      === Seq(1, 2))
    // the checkpoint really seeds resolution: expire the pre-checkpoint
    // manifests — the latest snapshot must still resolve through c3...
    val ld = new java.io.File(dir, "_txlog")
    Seq(1, 2, 3).foreach(v => new java.io.File(ld, f"v$v%08d.json").delete())
    assert(TxLog.read(spark, dir).as[Int].collect().sorted.toSeq ===
      Seq(1, 2, 4))
    // ...while pre-checkpoint travel now fails LOUDLY, not silently empty
    intercept[IllegalStateException] { TxLog.liveFiles(dir, 2) }
    TxLog.destroy(dir)
  }

  test("readDelta tails only the version window; compacted-away files skip") {
    val dir = freshDir()
    val p1 = TxLog.writeBatch(Seq(1, 2).toDF("x"), dir, "a")
    TxLog.commit(dir, Seq(p1))
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(3).toDF("x"), dir, "b")))
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(4).toDF("x"), dir, "c")))
    // tail (1, 3]: only batches b and c — batch a is never reread
    assert(TxLog.readDelta(spark, dir, 1, 3).get
      .as[Int].collect().sorted.toSeq === Seq(3, 4))
    // empty window
    assert(TxLog.readDelta(spark, dir, 3, 3).isEmpty)
    // a file added AND removed inside the window contributes nothing
    val d = TxLog.writeBatch(Seq(9).toDF("x"), dir, "d")
    TxLog.commit(dir, Seq(d))
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(9).toDF("x"), dir, "d_c")),
      remove = Seq(d))
    assert(TxLog.readDelta(spark, dir, 3, 5).get
      .as[Int].collect().sorted.toSeq === Seq(9), "only the live re-add")
    TxLog.destroy(dir)
  }

  test("expireManifests keeps the checkpoint-resolved snapshot readable") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(1).toDF("x"), dir, "a")))
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(2).toDF("x"), dir, "b")))
    assert(TxLog.expireManifests(dir) === 0, "no checkpoint -> no-op")
    TxLog.checkpoint(dir)
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(3).toDF("x"), dir, "c")))
    assert(TxLog.expireManifests(dir) === 2, "v1, v2 expire; v3 survives")
    assert(TxLog.latestVersion(dir) === 3)
    assert(TxLog.read(spark, dir).as[Int].collect().sorted.toSeq ===
      Seq(1, 2, 3))
    // pre-checkpoint time travel is gone LOUDLY, not silently partial
    intercept[IllegalStateException] { TxLog.liveFiles(dir, 1) }
    // commits continue from the right version after expiry
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(4).toDF("x"), dir, "d")))
    assert(TxLog.latestVersion(dir) === 4)
    TxLog.destroy(dir)
  }

  test("manifest stats prune whole files; stat-free files never prune") {
    val dir = freshDir()
    def statsBatch(name: String, vals: Seq[Int]) = {
      val df = vals.toDF("x")
      (TxLog.writeBatch(df, dir, name), TxLog.columnStats(df, "x"))
    }
    TxLog.commitWithStats(dir, Seq(statsBatch("lo", Seq(1, 5))))
    TxLog.commitWithStats(dir, Seq(statsBatch("mid", Seq(10, 20))))
    TxLog.commitWithStats(dir,
      Seq((TxLog.writeBatch(Seq(100).toDF("x"), dir, "nostats"), None)))
    // range [8,30]: lo's [1,5] is disjoint -> skipped at the MANIFEST;
    // mid overlaps; nostats must read (no stats = never prune)
    val pruned = TxLog.readPruned(spark, dir, "x", 8, 30).get
    val full = TxLog.read(spark, dir)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      "at least one whole file must be skipped")
    assert(pruned.filter(col("x").between(8, 30)).as[Int]
      .collect().sorted.toSeq === Seq(10, 20))
    // disjoint range prunes every stats'd file; only nostats survives
    assert(TxLog.readPruned(spark, dir, "x", 1000, 2000).get
      .as[Int].collect().toSeq === Seq(100))
    // stats survive a checkpoint: expire the manifests, prune again
    TxLog.checkpoint(dir)
    val ld = new java.io.File(dir, "_txlog")
    (1 to 3).foreach(v =>
      new java.io.File(ld, f"v$v%08d.json").delete())
    val viaCkpt = TxLog.readPruned(spark, dir, "x", 8, 30).get
    assert(viaCkpt.filter(col("x").between(8, 30)).as[Int]
      .collect().sorted.toSeq === Seq(10, 20))
    assert(viaCkpt.inputFiles.length < full.inputFiles.length,
      "checkpointed stats must still prune")
    TxLog.destroy(dir)
  }

  test("a torn or missing log refuses to serve a snapshot") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(1).toDF("x"), dir, "a")))
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(2).toDF("x"), dir, "b")))
    // corrupt one action line -> replay must fail loudly, not skip
    val m1 = new java.io.File(new java.io.File(dir, "_txlog"),
      "v00000001.json")
    java.nio.file.Files.write(m1.toPath, "garbage-line\n".getBytes)
    intercept[IllegalStateException] { TxLog.liveFiles(dir) }
    // a hole in the version chain is unreadable too
    m1.delete()
    intercept[IllegalStateException] { TxLog.liveFiles(dir) }
    TxLog.destroy(dir)
  }

  test("two racing writers: every version has exactly one winner, no lost manifests") {
    val dir = freshDir()
    val n = 12
    // pre-write all data files so the race is purely over the LOG claim
    val paths = (0 until 2 * n).map { i =>
      i -> TxLog.writeBatch(Seq(i).toDF("x"), dir, s"b$i")
    }.toMap
    // boxed types on purpose: put/putIfAbsent signal "was absent" with
    // null, which primitive Int would silently unbox to 0 (a real id)
    val won =
      new java.util.concurrent.ConcurrentHashMap[Integer, Integer]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val futures = (0 until 2).map { w =>
      pool.submit(new Runnable {
        override def run(): Unit =
          (0 until n).foreach { i =>
            val id = w * n + i
            val v = TxLog.commitWithRetry(dir, Seq(paths(id)),
              maxAttempts = 200)
            val prev = won.putIfAbsent(Int.box(v), Int.box(id))
            assert(prev eq null,
              s"version $v claimed twice: $prev and $id")
          }
      })
    }
    futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    // exactly one winner per version, a contiguous chain of 2n versions
    assert(won.size === 2 * n, s"expected ${2 * n} versions, got ${won.size}")
    assert((1 to 2 * n).forall(won.containsKey), s"version hole: $won")
    assert(TxLog.latestVersion(dir) === 2 * n)
    // no lost manifests: the final snapshot holds EVERY writer's batch
    assert(TxLog.read(spark, dir).as[Int].collect().sorted.toSeq ===
      (0 until 2 * n).toSeq, "a commit that reported success must be visible")
    TxLog.destroy(dir)
  }

  test("readChanges: signed snapshot-diff feed cancels a compaction inside the window") {
    val dir = freshDir()
    val v1 = TxLog.commit(dir,
      Seq(TxLog.writeBatch(Seq(1, 2).toDF("x"), dir, "b1")))
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(3).toDF("x"), dir, "b2")))
    // compaction: everything into one file, both batches retired
    val all = TxLog.read(spark, dir).coalesce(1)
    val v3 = TxLog.commit(dir,
      Seq(TxLog.writeBatch(all, dir, "c")),
      remove = Seq(s"$dir/data/b1", s"$dir/data/b2"))
    val ch = TxLog.readChanges(spark, dir, v1, v3).get
      .groupBy("x").agg(sum(col("sign")).as("net"))
      .as[(Int, Long)].collect().toMap
    // rows rewritten by the compaction net to zero; the window's genuine
    // insert (3, from b2) nets to +1
    assert(ch === Map(1 -> 0L, 2 -> 0L, 3 -> 1L))
    // append-only window degenerates to +1 rows only
    val app = TxLog.readChanges(spark, dir, 0, v1).get
      .select("x", "sign").as[(Int, Int)].collect().toSet
    assert(app === Set((1, 1), (2, 1)))
    // empty window -> None
    assert(TxLog.readChanges(spark, dir, v3, v3).isEmpty)
    TxLog.destroy(dir)
  }

  test("optimize bin-packs live files content-neutrally; vacuum honors time travel") {
    val dir = freshDir()
    (1 to 4).foreach { b =>
      TxLog.commit(dir,
        Seq(TxLog.writeBatch(Seq(b, b + 10).toDF("x"), dir, s"b$b")))
    }
    assert(TxLog.liveFiles(dir).size === 4)
    val before = TxLog.read(spark, dir).as[Int].collect().sorted.toSeq
    val v = TxLog.optimize(spark, dir, "opt", targetFiles = 1)
    assert(v === 5, "optimize commits the swap as an ordinary version")
    assert(TxLog.liveFiles(dir).size === 1)
    assert(TxLog.read(spark, dir).as[Int].collect().sorted.toSeq === before,
      "content must survive the bin-pack")
    assert(TxLog.read(spark, dir, asOf = 4).as[Int].collect().sorted.toSeq
      === before, "pre-optimize time travel still resolves")
    // idempotence: already at the target -> no new version
    assert(TxLog.optimize(spark, dir, "opt2", targetFiles = 1) === 0)
    // an orphaned batch write that never committed
    val orphan = TxLog.writeBatch(Seq(99).toDF("x"), dir, "orphan")
    // BEFORE log expiry: versions 1..5 are all resolvable, so the four
    // retired inputs are still reachable by time travel — vacuum may
    // only take the orphan
    assert(TxLog.vacuum(dir).map(p => new java.io.File(p).getName).toSet
      === Set("orphan"))
    assert(TxLog.read(spark, dir, asOf = 2).as[Int].collect().sorted.toSeq
      === Seq(1, 2, 11, 12))
    // checkpoint + expire retires pre-checkpoint history; NOW the four
    // original batch dirs are unreachable and vacuum reclaims them
    assert(TxLog.checkpoint(dir) === 5)
    assert(TxLog.expireManifests(dir) === 5)
    val gone = TxLog.vacuum(dir).map(p => new java.io.File(p).getName).toSet
    assert(gone === Set("b1", "b2", "b3", "b4"))
    assert(TxLog.read(spark, dir).as[Int].collect().sorted.toSeq === before,
      "the live snapshot never flinches")
    TxLog.destroy(dir)
  }

  test("optimize preserves manifest stats and range-clusters: pruning still skips") {
    val dir = freshDir()
    // four stats-carrying batches with known disjoint x-ranges
    (0 until 4).foreach { b =>
      val batch = ((b * 100) until (b * 100 + 100)).toDF("x")
      TxLog.commitWithStats(dir,
        Seq(TxLog.writeBatch(batch, dir, s"b$b") ->
          TxLog.columnStats(batch, "x")))
    }
    assert(TxLog.optimize(spark, dir, "opt", targetFiles = 2) === 5)
    val entries = TxLog.snapshot(dir).entries
    assert(entries.size === 2)
    assert(entries.forall(_._2.exists(_.startsWith("x;"))),
      "compacted files must carry re-derived stats, not commit stats-free")
    // range clustering keeps the bounds narrow enough to actually skip
    val full = TxLog.read(spark, dir)
    val pruned = TxLog.readPruned(spark, dir, "x", 0, 50).get
    assert(pruned.inputFiles.length < full.inputFiles.length,
      "a narrow range must skip a compacted file AFTER optimize")
    assert(pruned.filter(col("x") <= 50).count() === 51,
      "pruning loses no rows")
    assert(full.count() === 400, "content neutral")
    TxLog.destroy(dir)
  }

  test("restore rolls back as ordinary history: content, cross-restore time travel, idempotence, stats") {
    val dir = freshDir()
    val b1 = Seq(1, 2).toDF("x")
    TxLog.commitWithStats(dir,
      Seq(TxLog.writeBatch(b1, dir, "b1") -> TxLog.columnStats(b1, "x")))
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(3, 4).toDF("x"), dir, "b2")))
    assert(TxLog.optimize(spark, dir, "opt", targetFiles = 1) === 3)
    val v = TxLog.restore(dir, 1)
    assert(v === 4, "restore is one ordinary commit")
    assert(TxLog.read(spark, dir).as[Int].collect().sorted.toSeq === Seq(1, 2),
      "restored snapshot equals version 1")
    assert(TxLog.read(spark, dir, asOf = 2).as[Int].collect().sorted.toSeq
      === Seq(1, 2, 3, 4), "time travel across the restore still works")
    assert(TxLog.restore(dir, 1) === 0, "re-restore is a no-op")
    assert(TxLog.snapshot(dir).entries.forall(_._2.exists(_.startsWith("x;"))),
      "the restored file keeps its manifest stats")
    // rolling FORWARD to the compacted version is just another restore
    assert(TxLog.restore(dir, 3) === 5)
    assert(TxLog.read(spark, dir).as[Int].collect().sorted.toSeq
      === Seq(1, 2, 3, 4))
    TxLog.destroy(dir)
  }

  test("deleteWhere rewrites only matching files; null predicates keep rows; stats survive") {
    val dir = freshDir()
    // b_lo holds x in [0,100), b_hi in [100,200); y is nullable
    val lo = (0 until 100).map(i => (i, if (i % 10 == 0) None else Some(i)))
      .toDF("x", "y")
    val hi = (100 until 200).map(i => (i, Option(i))).toDF("x", "y")
    TxLog.commitWithStats(dir,
      Seq(TxLog.writeBatch(lo, dir, "b_lo") -> TxLog.columnStats(lo, "x")))
    TxLog.commitWithStats(dir,
      Seq(TxLog.writeBatch(hi, dir, "b_hi") -> TxLog.columnStats(hi, "x")))
    val hiPath = TxLog.liveFiles(dir).find(_.endsWith("b_hi")).get
    // DELETE WHERE y < 50: null-y rows (x % 10 == 0) must be KEPT, and
    // b_hi (no y < 50 anywhere) must not be rewritten
    val v = TxLog.deleteWhere(spark, dir, "del", col("y") < 50)
    assert(v === 3, "delete is one ordinary commit")
    assert(TxLog.liveFiles(dir).contains(hiPath),
      "a file with no matching rows survives byte-identical")
    val kept = TxLog.read(spark, dir).select("x").as[Int].collect().sorted
    val expected = ((0 until 100).filter(i => i % 10 == 0 || i >= 50) ++
      (100 until 200)).sorted
    assert(kept.toSeq === expected,
      "predicate-true rows go, null-predicate rows stay")
    // time travel to the pre-delete version is untouched
    assert(TxLog.read(spark, dir, asOf = 2).count() === 200)
    // the rewritten file re-derived its x stats: a lo-range probe still
    // prunes b_hi, a hi-range probe still prunes the rewritten file
    val prunedLo = TxLog.readPruned(spark, dir, "x", 0, 10).get
    assert(prunedLo.inputFiles.length <
      TxLog.read(spark, dir).inputFiles.length,
      "stats survive the delete: disjoint files still skip")
    assert(TxLog.deleteWhere(spark, dir, "del2", col("y") < 50) === 0,
      "idempotent: nothing left to delete")
    TxLog.destroy(dir)
  }

  test("a deleteWhere that empties a touched batch leaves no file and no add") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(1, 2).toDF("x"), dir, "b1")))
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(3, 4).toDF("x"), dir, "b2")))
    assert(TxLog.deleteWhere(spark, dir, "del", col("x") <= 2) === 3)
    assert(!new java.io.File(s"$dir/data/del_d0").exists(),
      "the empty remainder's dir is removed")
    assert(TxLog.liveFiles(dir).map(new java.io.File(_).getName) === Seq("b2"))
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_txlog", f"v${3}%08d.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(!manifest.linesIterator.exists(_.startsWith("add\t")),
      "the delete commits only the remove")
    assert(TxLog.read(spark, dir).as[Int].collect().sorted.toSeq === Seq(3, 4))
    TxLog.destroy(dir)
  }

  test("merge and applyChanges start only the jobs that move data") {
    import org.apache.spark.sql.graftbridge.SqlBridge
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      (0 until 50).map(i => (i, i * 1.0)).toDF("k", "v"), dir, "b_lo")))
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      (50 until 100).map(i => (i, i * 1.0)).toDF("k", "v"), dir, "b_hi")))
    // pin, key multiplicities, probe, source write, one rewrite — the
    // schema, emptiness, key-count and bounds probes ride those jobs
    val (vM, mergeJobs) = SqlBridge.jobsOf(spark)(TxLog.merge(spark, dir, "m",
      Seq((1, 10.0), (500, 5.0)).toDF("k", "v"), Seq("k")))
    assert(vM === 3)
    assert(mergeJobs <= 9, s"merge started $mergeJobs jobs")
    val (vC, cdcJobs) = SqlBridge.jobsOf(spark)(TxLog.applyChanges(spark, dir,
      "c", Seq((2, 0.0, "D"), (3, 30.5, "U"), (600, 6.0, "U"))
        .toDF("k", "v", "op"), Seq("k")))
    assert(vC === 4)
    assert(cdcJobs <= 9, s"applyChanges started $cdcJobs jobs")
    assert(TxLog.read(spark, dir).as[(Int, Double)].collect().sorted.toSeq ===
      ((0 until 100).filterNot(_ == 2).map(i => (i, i * 1.0))
        .map { case (1, _) => (1, 10.0); case (3, _) => (3, 30.5); case r => r } ++
        Seq((500, 5.0), (600, 6.0))).sorted)
    TxLog.destroy(dir)
  }

  test("updateWhere: pre-update-row SET semantics, null predicates skip, pruning and stats survive") {
    val dir = freshDir()
    // b_lo holds x in [0,100) with y = 2x (nullable), b_hi x in [100,200)
    val lo = (0 until 100)
      .map(i => (i, if (i % 10 == 0) None else Some(2 * i))).toDF("x", "y")
    val hi = (100 until 200).map(i => (i, Option(2 * i))).toDF("x", "y")
    TxLog.commitWithStats(dir,
      Seq(TxLog.writeBatch(lo, dir, "b_lo") -> TxLog.columnStats(lo, "x")))
    TxLog.commitWithStats(dir,
      Seq(TxLog.writeBatch(hi, dir, "b_hi") -> TxLog.columnStats(hi, "x")))
    val hiPath = TxLog.liveFiles(dir).find(_.endsWith("b_hi")).get
    // UPDATE SET x = y, y = x WHERE y < 100: a genuine swap (y = 2x ≠ x)
    // — both RHS must read the PRE-update row; chained evaluation would
    // yield (2i, 2i) instead of (2i, i). Null-y rows have a NULL
    // predicate and are NOT updated (SQL UPDATE); b_hi (y ≥ 200
    // throughout) must not be rewritten.
    val v = TxLog.updateWhere(spark, dir, "upd", col("y") < 100,
      Seq("x" -> col("y"), "y" -> col("x")))
    assert(v === 3, "update is one ordinary commit")
    assert(TxLog.liveFiles(dir).contains(hiPath),
      "a file with no matching rows survives byte-identical")
    val rows = TxLog.read(spark, dir)
      .select("x", "y").as[(Int, Option[Int])].collect().toSeq
    val expected = ((0 until 100 by 10).map(i => (i, None: Option[Int])) ++
      (1 until 50).filterNot(_ % 10 == 0).map(i => (2 * i, Some(i))) ++
      (50 until 100).filterNot(_ % 10 == 0).map(i => (i, Some(2 * i))) ++
      (100 until 200).map(i => (i, Some(2 * i))))
      .sortBy(r => (r._1, r._2))
    assert(rows.sortBy(r => (r._1, r._2)) === expected,
      "matched rows swap against the pre-update row; null-predicate " +
        "and unmatched rows are untouched")
    // schema is invariant: the SET cast keeps the column types
    assert(TxLog.read(spark, dir).schema ===
      TxLog.read(spark, dir, asOf = 2).schema)
    // time travel to the pre-update version is untouched
    assert(TxLog.read(spark, dir, asOf = 2).count() === 200)
    // the rewritten file re-derived its x stats: disjoint files still skip
    val prunedLo = TxLog.readPruned(spark, dir, "x", 0, 10).get
    assert(prunedLo.inputFiles.length <
      TxLog.read(spark, dir).inputFiles.length,
      "stats survive the update: disjoint files still skip")
    assert(TxLog.updateWhere(spark, dir, "u2", col("x") < 0,
      Seq("y" -> lit(0))) === 0, "a no-match update commits nothing")
    intercept[IllegalArgumentException] {
      TxLog.updateWhere(spark, dir, "u3", col("x") >= 0,
        Seq("nope" -> lit(1)))
    }
    // the SET-column check must not be data-dependent: a typo'd column
    // with a NO-MATCH predicate must still fail loudly, not return 0
    intercept[IllegalArgumentException] {
      TxLog.updateWhere(spark, dir, "u3b", col("x") < 0,
        Seq("nope" -> lit(1)))
    }
    intercept[IllegalArgumentException] {
      TxLog.updateWhere(spark, dir, "u4", col("x") >= 0,
        Seq("y" -> lit(1), "y" -> lit(2)))
    }
    TxLog.destroy(dir)
  }

  test("commitPartitioned refuses an empty frame without burning the batch name") {
    val dir = freshDir()
    val df = Seq((1, "a")).toDF("id", "c")
    intercept[IllegalArgumentException] {
      TxLog.commitPartitioned(spark, dir, "p1", df.limit(0), "c")
    }
    // the failed attempt left no orphan dir: the same name commits fine
    assert(TxLog.commitPartitioned(spark, dir, "p1", df, "c") === 1)
    assert(TxLog.read(spark, dir).count() === 1)
    TxLog.destroy(dir)
  }

  test("updateWhere casts SET values to the column's existing type") {
    val dir = freshDir()
    val b = Seq((1, 10.5), (2, 20.5)).toDF("k", "v")
    TxLog.commit(dir, Seq(TxLog.writeBatch(b, dir, "b")))
    // an integer-literal RHS on a double column must land as double
    assert(TxLog.updateWhere(spark, dir, "u", col("k") === 1,
      Seq("v" -> lit(99))) === 2)
    val after = TxLog.read(spark, dir)
    assert(after.schema("v").dataType ===
      org.apache.spark.sql.types.DoubleType)
    assert(after.as[(Int, Double)].collect().sortBy(_._1).toSeq ===
      Seq((1, 99.0), (2, 20.5)))
    TxLog.destroy(dir)
  }

  test("merge upserts by key, prunes unmatched files, rejects duplicate source keys") {
    val dir = freshDir()
    val lo = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0))
      .toDF("k", "tag", "v")
    val hi = Seq((100, "x", 1.0), (101, "y", 2.0)).toDF("k", "tag", "v")
    TxLog.commitWithStats(dir,
      Seq(TxLog.writeBatch(lo, dir, "b_lo") -> TxLog.columnStats(lo, "k")))
    TxLog.commitWithStats(dir,
      Seq(TxLog.writeBatch(hi, dir, "b_hi") -> TxLog.columnStats(hi, "k")))
    val hiPath = TxLog.liveFiles(dir).find(_.endsWith("b_hi")).get
    // update k=2, insert k=7 — touches only b_lo
    val src = Seq((2, "B", 200.0), (7, "g", 70.0)).toDF("k", "tag", "v")
    val v = TxLog.merge(spark, dir, "m", src, Seq("k"))
    assert(v === 3, "merge is one ordinary commit")
    assert(TxLog.liveFiles(dir).contains(hiPath),
      "a file holding none of the source keys survives byte-identical")
    val after = TxLog.read(spark, dir).as[(Int, String, Double)]
      .collect().sortBy(_._1).toSeq
    assert(after === Seq((1, "a", 10.0), (2, "B", 200.0), (3, "c", 30.0),
      (7, "g", 70.0), (100, "x", 1.0), (101, "y", 2.0)),
      "matched rows replaced, unmatched inserted, the rest untouched")
    assert(TxLog.read(spark, dir, asOf = 2)
      .filter(col("k") === 2).select("v").as[Double].head() === 20.0,
      "time travel to the pre-merge version is untouched")
    // the source file carries k stats (union of live stat columns), so
    // a probe outside every file's range prunes everything
    assert(TxLog.snapshot(dir).entries.forall(_._2.exists(_.contains("k;"))),
      "every post-merge file carries k stats")
    val dup = Seq((5, "d", 1.0), (5, "e", 2.0)).toDF("k", "tag", "v")
    intercept[IllegalArgumentException] {
      TxLog.merge(spark, dir, "m2", dup, Seq("k"))
    }
    assert(TxLog.merge(spark, dir, "m3", src.limit(0), Seq("k")) === 0,
      "empty source is a no-op")
    TxLog.destroy(dir)
  }

  test("commitPartitioned: one manifest entry per value, dirname-derived pruning, nulls always read") {
    val dir = freshDir()
    val df = Seq((1, "click", 1.0), (2, "view", 2.0), (3, "click", 3.0),
      (4, null, 4.0), (5, "buy", 5.0)).toDF("id", "etype", "v")
    val v = TxLog.commitPartitioned(spark, dir, "p1", df, "etype")
    assert(v === 1)
    val entries = TxLog.snapshot(dir).entries
    assert(entries.size === 4, "click, view, buy, null-default leaves")
    // the partition column survives in the data; the internal copy does not
    val back = TxLog.read(spark, dir)
    assert(back.columns.sorted.toSeq === Seq("etype", "id", "v"))
    assert(back.select("id").as[Int].collect().sorted.toSeq === (1 to 5))
    // point pruning from the manifest alone: the click probe reads the
    // click leaf ONLY — the default leaf holds exactly the null/''
    // sources and carries the exact #te# marker (r15), so a non-empty
    // point probe skips it too
    val pruned = TxLog.readPrunedByKey(spark, dir, "etype", "click").get
    assert(pruned.inputFiles.length < back.inputFiles.length,
      "a value probe must skip other partitions' files")
    assert(pruned.filter(col("etype") === "click")
      .select("id").as[Int].collect().sorted.toSeq === Seq(1, 3),
      "pruning loses no rows")
    val nullLeaf = entries.find(_._1.contains("__HIVE_DEFAULT_PARTITION__"))
    assert(nullLeaf.exists(_._2.exists(_.contains("#te#etype"))),
      "the default leaf carries the exact null-or-empty marker")
    assert(!pruned.inputFiles.exists(_.contains("__HIVE_DEFAULT_PARTITION__")),
      "'click' can never live in the null/'' leaf — exact skip")
    // the '' probe reads ONLY the default leaf (its #te# admits it)
    val emptyProbe = TxLog.readPrunedByKey(spark, dir, "etype", "").get
    assert(emptyProbe.inputFiles.forall(
      _.contains("__HIVE_DEFAULT_PARTITION__")))
    TxLog.destroy(dir)
  }

  test("commitPartitioned numeric values get exact min=max range stats") {
    val dir = freshDir()
    val df = (0 until 30).map(i => (i, i % 3)).toDF("id", "bucket")
    assert(TxLog.commitPartitioned(spark, dir, "p1", df, "bucket") === 1)
    assert(TxLog.snapshot(dir).entries.size === 3)
    assert(TxLog.snapshot(dir).entries.forall(_._2.exists(_.contains("bucket;"))),
      "numeric partition values carry a min=max range segment")
    def leavesOf(d: org.apache.spark.sql.DataFrame) =
      d.inputFiles.map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    val one = TxLog.readPruned(spark, dir, "bucket", 1, 1).get
    assert(leavesOf(one).length === 1, "a point range resolves to ONE leaf")
    assert(one.select("id").as[Int].collect().sorted.toSeq ===
      (0 until 30).filter(_ % 3 == 1))
    // a second partitioned batch composes: pruning spans both commits
    val df2 = (30 until 60).map(i => (i, i % 3)).toDF("id", "bucket")
    assert(TxLog.commitPartitioned(spark, dir, "p2", df2, "bucket") === 2)
    val two = TxLog.readPruned(spark, dir, "bucket", 1, 1).get
    assert(leavesOf(two).length === 2, "one leaf per batch for the value")
    assert(two.select("id").as[Int].collect().sorted.toSeq ===
      (0 until 60).filter(_ % 3 == 1))
    TxLog.destroy(dir)
  }

  test("vacuum sweeps retired partition leaves child-by-child, never a live sibling") {
    val dir = freshDir()
    val df = (0 until 30).map(i => (i, i % 3)).toDF("id", "bucket")
    TxLog.commitPartitioned(spark, dir, "p1", df, "bucket")
    // retire exactly the bucket=1 leaf (row verbs see leaves as batch dirs)
    val vDel = TxLog.deleteWhere(spark, dir, "del", col("bucket") === 1)
    assert(vDel === 2)
    assert(TxLog.read(spark, dir).count() === 20)
    // pre-delete versions still resolve -> nothing is vacuumable yet
    assert(TxLog.vacuum(dir) === Nil)
    TxLog.checkpoint(dir)
    TxLog.expireManifests(dir)
    val swept = TxLog.vacuum(dir)
    assert(swept.exists(_.contains("__pv=1")),
      "the retired bucket=1 leaf is reclaimed")
    assert(swept.forall(p => !p.contains("__pv=0") && !p.contains("__pv=2")),
      "live sibling leaves under the same parent survive")
    assert(TxLog.read(spark, dir).select("id").as[Int].collect().sorted.toSeq
      === (0 until 30).filterNot(_ % 3 == 1), "content intact after the sweep")
    TxLog.destroy(dir)
  }

  test("mergeSchema read serves the union schema; old files read as nulls") {
    val dir = freshDir()
    TxLog.commit(dir,
      Seq(TxLog.writeBatch(Seq(1, 2).toDF("x"), dir, "b_old")))
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((3, "c")).toDF("x", "tag"), dir, "b_new")))
    val evolved = TxLog.read(spark, dir, mergeSchema = true)
    assert(evolved.columns.sorted.toSeq === Seq("tag", "x"))
    assert(evolved.select("x", "tag").as[(Int, Option[String])]
      .collect().sortBy(_._1).toSeq ===
      Seq((1, None), (2, None), (3, Some("c"))),
      "pre-evolution rows read the new column as null")
    // time travel BEFORE the evolution serves the old schema unchanged
    assert(TxLog.read(spark, dir, asOf = 1).columns.toSeq === Seq("x"))
    TxLog.destroy(dir)
  }

  test("applyChanges: deletes, updates, inserts, absent-key delete no-op, op dropped") {
    val dir = freshDir()
    val base = Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("k", "v")
    TxLog.commit(dir, Seq(TxLog.writeBatch(base, dir, "b0")))
    val feed = Seq((1, 0.0, "D"),   // delete existing
                   (2, 200.0, "U"), // update
                   (7, 70.0, "U"),  // insert
                   (9, 0.0, "D"))   // delete absent key: no-op
      .toDF("k", "v", "op")
    assert(TxLog.applyChanges(spark, dir, "c1", feed, Seq("k")) === 2)
    val snap = TxLog.read(spark, dir)
    assert(snap.columns.toSeq === Seq("k", "v"), "op marker must not land")
    assert(snap.as[(Int, Double)].collect().sortBy(_._1).toSeq ===
      Seq(2 -> 200.0, 3 -> 30.0, 7 -> 70.0))
    // a key carrying both an update and a delete in one batch is rejected
    val conflicted = Seq((3, 1.0, "U"), (3, 0.0, "D")).toDF("k", "v", "op")
    intercept[IllegalArgumentException] {
      TxLog.applyChanges(spark, dir, "c2", conflicted, Seq("k"))
    }
    // a delete-only feed hitting nothing changes nothing
    val misses = Seq((99, 0.0, "D")).toDF("k", "v", "op")
    assert(TxLog.applyChanges(spark, dir, "c3", misses, Seq("k")) === 0)
    // a delete-only feed hitting something is a pure rewrite commit
    val hit = Seq((2, 0.0, "D")).toDF("k", "v", "op")
    assert(TxLog.applyChanges(spark, dir, "c4", hit, Seq("k")) === 3)
    assert(TxLog.read(spark, dir).as[(Int, Double)].collect()
      .sortBy(_._1).toSeq === Seq(3 -> 30.0, 7 -> 70.0))
    TxLog.destroy(dir)
  }

  test("timestamp time travel resolves the newest commit at or before the instant") {
    val dir = freshDir()
    val tBefore = System.currentTimeMillis() - 5
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(1).toDF("x"), dir, "b1")))
    Thread.sleep(15)
    val tMid = System.currentTimeMillis()
    Thread.sleep(15)
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(2).toDF("x"), dir, "b2")))
    assert(TxLog.versionAt(dir, tMid) === 1)
    assert(TxLog.readAsOfTimestamp(spark, dir, tMid)
      .as[Int].collect().toSeq === Seq(1))
    assert(TxLog.versionAt(dir, System.currentTimeMillis()) === 2)
    intercept[IllegalArgumentException] {
      TxLog.versionAt(dir, tBefore)
    }
    TxLog.destroy(dir)
  }

  test("pre-metadata manifests replay unchanged and fall back to file mtime") {
    val dir = freshDir()
    val p = TxLog.writeBatch(Seq(7).toDF("x"), dir, "legacy")
    // hand-write a v1 manifest in the OLD format: no meta header at all
    val ld = java.nio.file.Paths.get(dir, "_txlog")
    java.nio.file.Files.createDirectories(ld)
    java.nio.file.Files.write(ld.resolve("v00000001.json"),
      s"add\t$p\n".getBytes("UTF-8"))
    assert(TxLog.read(spark, dir).as[Int].collect().toSeq === Seq(7),
      "old-format manifests must keep replaying")
    val ts = TxLog.manifestTs(dir, 1)
    assert(ts > 0 && ts <= System.currentTimeMillis(),
      "mtime fallback for manifests predating the meta header")
    // a NEW commit on the same table carries the header and still replays
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(8).toDF("x"), dir, "b2")))
    assert(TxLog.read(spark, dir).as[Int].collect().sorted.toSeq === Seq(7, 8))
    TxLog.destroy(dir)
  }

  test("commitChecked refuses a violating batch with a per-constraint report") {
    val dir = freshDir()
    val good = Seq((1, Some(10.0)), (2, Some(20.0))).toDF("k", "v")
    assert(TxLog.commitChecked(spark, dir, "b1", good, Seq(
      "k_positive" -> (col("k") > 0),
      "v_not_null" -> col("v").isNotNull)) === 1)
    // nulls violate (CHECK convention), and the report counts per name
    val bad = Seq((3, Some(30.0)), (-1, None), (-2, Some(5.0)))
      .toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      TxLog.commitChecked(spark, dir, "b2", bad, Seq(
        "k_positive" -> (col("k") > 0),
        "v_not_null" -> col("v").isNotNull))
    }
    assert(e.getMessage.contains("k_positive (2 rows)"))
    assert(e.getMessage.contains("v_not_null (1 rows)"))
    assert(TxLog.latestVersion(dir) === 1, "rejected batch commits nothing")
    assert(!new java.io.File(s"$dir/data/b2").exists(),
      "rejected batch leaves zero footprint")
    assert(TxLog.read(spark, dir).count() === 2)
    TxLog.destroy(dir)
  }

  test("merge pre-prunes the probe scan with manifest key stats (trust contract)") {
    val dir = freshDir()
    val lo = Seq((1, 1.0), (2, 2.0)).toDF("k", "v")
    val hi = Seq((100, 10.0), (101, 11.0)).toDF("k", "v")
    TxLog.commitWithStats(dir,
      Seq(TxLog.writeBatch(lo, dir, "b_lo") -> TxLog.columnStats(lo, "k")))
    // plant a DISJOINT stats blob on the hi file: its content (k=100)
    // would match the source, but stats-pruning must skip the probe
    // entirely — proving the mechanism runs, and documenting that stats
    // are trusted exactly as readPruned trusts them
    TxLog.commitWithStats(dir,
      Seq(TxLog.writeBatch(hi, dir, "b_hi") -> Some("k;5000.0;6000.0")))
    val hiPath = TxLog.liveFiles(dir).find(_.endsWith("b_hi")).get
    val src = Seq((100, 999.0)).toDF("k", "v")
    TxLog.merge(spark, dir, "m", src, Seq("k"))
    assert(TxLog.liveFiles(dir).contains(hiPath),
      "a stats-disjoint file is skipped without probing")
    // k=100 was NOT replaced (its file was pruned away) — the new row
    // coexists: lying stats break merge exactly like they break
    // readPruned. The UNFILTERED read (no pushed bound, nothing prunes)
    // shows both copies; a FILTERED scan trusts the same lying blob and
    // skips the file — the one trust contract, applied everywhere
    assert(TxLog.read(spark, dir).collect()
      .count(_.getAs[Int]("k") == 100) === 2)
    assert(TxLog.read(spark, dir).filter(col("k") === 100).count() === 1,
      "scan-level skipping trusts stats exactly like the probe did")
    TxLog.destroy(dir)
  }

  test("optimizeIncremental compacts only the small-file tail") {
    val dir = freshDir()
    val big = (1 to 50000).map(i => (i, i * 2L)).toDF("a", "b")
    TxLog.commit(dir, Seq(TxLog.writeBatch(big, dir, "big")))
    (1 to 3).foreach { i =>
      val sm = Seq((100000 + i, 0L)).toDF("a", "b")
      TxLog.commitWithStats(dir,
        Seq(TxLog.writeBatch(sm, dir, s"sm$i") -> TxLog.columnStats(sm, "a")))
    }
    val bigPath = TxLog.liveFiles(dir).find(_.endsWith("big")).get
    val v = TxLog.optimizeIncremental(spark, dir, "inc", smallBytes = 100000)
    assert(v === 5, "compaction is one ordinary commit")
    val live = TxLog.liveFiles(dir)
    assert(live.contains(bigPath), "the big file is never touched")
    assert(live.size === 2, "three small files became one")
    assert(TxLog.read(spark, dir).count() === 50003, "content neutral")
    assert(TxLog.snapshot(dir).entries.exists(_._2.exists(_.startsWith("a;"))),
      "the compacted file re-derives the union of its inputs' stat columns")
    assert(TxLog.optimizeIncremental(spark, dir, "inc2", 100000) === 0,
      "one remaining small file: nothing to gain, no commit")
    TxLog.destroy(dir)
  }

  test("applyChanges rejects NULL op values instead of silently deleting") {
    val dir = freshDir()
    TxLog.commit(dir,
      Seq(TxLog.writeBatch(Seq((2, 20.0)).toDF("k", "v"), dir, "b0")))
    val feed = Seq((2, Some("U"), 200.0), (3, None, 30.0))
      .toDF("k", "op", "v")
    val e = intercept[IllegalArgumentException] {
      TxLog.applyChanges(spark, dir, "c", feed, Seq("k"))
    }
    assert(e.getMessage.contains("NULL 'op'"))
    assert(TxLog.read(spark, dir).count() === 1, "nothing committed")
    TxLog.destroy(dir)
  }

  test("merge allows several null-key source rows: they are independent inserts") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((Some(1), 10.0)).toDF("k", "v"), dir, "b0")))
    val src = Seq((Option.empty[Int], 1.0), (Option.empty[Int], 2.0),
      (Some(1), 100.0)).toDF("k", "v")
    assert(TxLog.merge(spark, dir, "m", src, Seq("k")) === 2)
    val rows = TxLog.read(spark, dir).as[(Option[Int], Double)]
      .collect().sortBy(_._2).toSeq
    assert(rows === Seq((None, 1.0), (None, 2.0), (Some(1), 100.0)),
      "null keys insert without matching; the real key upserts")
    TxLog.destroy(dir)
  }

  test("merge rejects a source whose schema drifted from the table") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1, "a", 1.0)).toDF("k", "tag", "v"), dir, "b0")))
    val narrow = Seq((1, 2.0)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      TxLog.merge(spark, dir, "m", narrow, Seq("k"))
    }
    assert(e.getMessage.contains("schema"))
    assert(TxLog.read(spark, dir).count() === 1, "nothing committed")
    TxLog.destroy(dir)
  }

  test("vacuum keeps live data of a RELATIVE-rooted table") {
    val rel = s"target/txlog_relvac_${System.nanoTime()}"
    TxLog.commit(rel, Seq(TxLog.writeBatch(Seq(1, 2).toDF("x"), rel, "b0")))
    TxLog.commit(rel, Seq(TxLog.writeBatch(Seq(3).toDF("x"), rel, "b1")))
    assert(TxLog.vacuum(rel) === Seq.empty,
      "every batch is reachable — vacuum must delete NOTHING (the " +
        "unqualified-path identity would have deleted the whole table)")
    assert(TxLog.read(spark, rel).as[Int].collect().sorted.toSeq ===
      Seq(1, 2, 3))
    TxLog.destroy(rel)
  }

  test("versionAt survives non-monotone commit timestamps and expired manifests") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(1).toDF("x"), dir, "b1")))
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(2).toDF("x"), dir, "b2")))
    // simulate clock skew: rewrite v2's header to PREDATE v1's
    val ld = java.nio.file.Paths.get(dir, "_txlog")
    val m2 = ld.resolve("v00000002.json")
    val t1 = TxLog.manifestTs(dir, 1)
    val text = new String(java.nio.file.Files.readAllBytes(m2), "UTF-8")
      .replaceFirst("meta\tts\t\\d+", s"meta\tts\t${t1 - 50}")
    java.nio.file.Files.write(m2, text.getBytes("UTF-8"))
    // the newest at-or-before t1 is v2 (ts t1-50 <= t1, version 2 > 1) —
    // a prefix walk stopping at v1's later ts would under-resolve
    assert(TxLog.versionAt(dir, t1) === 2)
    // expired history: only the checkpoint file remains for v2's state
    TxLog.checkpoint(dir)
    TxLog.expireManifests(dir)
    assert(TxLog.versionAt(dir, System.currentTimeMillis()) === 2,
      "a checkpointed+expired log still timestamp-resolves")
    TxLog.destroy(dir)
  }

  test("manifest bloom segment skips point lookups; range stats coexist; rewrites keep ranges") {
    val dir = freshDir()
    // two key-disjoint batches, each with range stats on x AND a bloom on k
    val a = Seq((1, "k_alpha"), (2, "k_beta")).toDF("x", "k")
    val b = Seq((100, "k_gamma"), (101, "k_delta")).toDF("x", "k")
    TxLog.commitWithStats(dir, Seq(TxLog.writeBatch(a, dir, "a") ->
      TxLog.statsWithBloom(a, Seq("x"), "k", bits = 256)))
    TxLog.commitWithStats(dir, Seq(TxLog.writeBatch(b, dir, "b") ->
      TxLog.statsWithBloom(b, Seq("x"), "k", bits = 256)))
    // a point lookup prunes the file that provably lacks the key
    val hit = TxLog.readPrunedByKey(spark, dir, "k", "k_gamma").get
    assert(hit.inputFiles.length < TxLog.read(spark, dir).inputFiles.length,
      "the batch without k_gamma must be skipped via its bloom alone")
    assert(hit.filter(col("k") === "k_gamma").count() === 1,
      "skipping loses no rows")
    // a key in NO batch prunes everything (exact absence proof mod FP)
    assert(TxLog.readPrunedByKey(spark, dir, "k", "k_nowhere_zzz").isEmpty ||
      TxLog.readPrunedByKey(spark, dir, "k", "k_nowhere_zzz").get
        .filter(col("k") === "k_nowhere_zzz").isEmpty)
    // range stats in the same blob still prune independently (inputFiles
    // counts PART files, so compare against the full snapshot's count)
    val ranged = TxLog.readPruned(spark, dir, "x", 0, 10).get
    assert(ranged.inputFiles.length < TxLog.read(spark, dir).inputFiles.length)
    assert(ranged.as[(Int, String)].collect().map(_._1).sorted.toSeq ===
      Seq(1, 2))
    // a rewrite re-derives ranges and drops blooms without choking
    assert(TxLog.optimize(spark, dir, "opt", targetFiles = 1) === 3)
    val st = TxLog.snapshot(dir).entries.head._2
    assert(st.exists(_.contains("x;")), "range stats survive the rewrite")
    assert(!st.exists(_.contains("#bf#")), "blooms are per-ingest artifacts")
    assert(TxLog.read(spark, dir).count() === 4, "content neutral")
    TxLog.destroy(dir)
  }

  test("merge with no matched keys is a pure insert: nothing rewritten") {
    val dir = freshDir()
    val base = Seq((1, 1.0), (2, 2.0)).toDF("k", "v")
    TxLog.commit(dir, Seq(TxLog.writeBatch(base, dir, "b0")))
    val basePath = TxLog.liveFiles(dir).head
    val src = Seq((10, 10.0)).toDF("k", "v")
    assert(TxLog.merge(spark, dir, "m", src, Seq("k")) === 2)
    assert(TxLog.liveFiles(dir).contains(basePath),
      "insert-only merge leaves every existing file in place")
    assert(TxLog.read(spark, dir).count() === 3)
    TxLog.destroy(dir)
  }

  test("commitRewrite aborts a stale rewrite instead of resurrecting removed rows") {
    val dir = freshDir()
    (1 to 3).foreach { b =>
      TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(b).toDF("x"), dir, s"b$b")))
    }
    val staleInputs = TxLog.liveFiles(dir)
    // a fast compactor lands first — no version race ever happens, the
    // slow writer's snapshot is simply stale (the skew case version
    // claims alone can never flag)
    TxLog.optimize(spark, dir, "fast", targetFiles = 1)
    val before = TxLog.read(spark, dir).as[Int].collect().sorted.toSeq
    val lateCopy = TxLog.writeBatch(Seq(1, 2, 3).toDF("x"), dir, "late")
    intercept[java.util.ConcurrentModificationException] {
      TxLog.commitRewrite(dir, Seq(lateCopy -> None), remove = staleInputs)
    }
    assert(TxLog.read(spark, dir).as[Int].collect().sorted.toSeq === before,
      "the losing rewrite must not have doubled every row")
    TxLog.destroy(dir)
  }

  test("a masked rewrite aborts when a DV delete lands between read and commit") {
    val dir = freshDir()
    val df = (0L until 20L).toDF("x")
    TxLog.commit(dir, Seq(TxLog.writeBatch(df, dir, "b0")))
    // bind a deletion vector, snapshot it, then simulate a slow compactor:
    // it read THROUGH the old mask, but a second DV delete rebinds the
    // file before the compactor's swap lands — committing the compacted
    // copy would resurrect the newly-deleted rows
    TxLog.deleteWhereDV(spark, dir, "dv1", col("x") === 3L)
    val staleDvs = TxLog.snapshot(dir).dvs
    val staleInputs = TxLog.liveFiles(dir)
    val compacted = TxLog.writeBatch(
      TxLog.read(spark, dir).coalesce(1), dir, "slowCompact")
    TxLog.deleteWhereDV(spark, dir, "dv2", col("x") === 7L)
    intercept[java.util.ConcurrentModificationException] {
      TxLog.commitRewrite(dir, Seq(compacted -> None), remove = staleInputs,
        basedOnDvs = Some(staleDvs))
    }
    assert(TxLog.read(spark, dir).as[Long].collect().sorted.toSeq ===
      (0L until 20L).filterNot(x => x == 3L || x == 7L),
      "the aborted rewrite must not resurrect the concurrently-deleted row")
    TxLog.destroy(dir)
  }

  // ---- column mapping: metadata-only RENAME / DROP ----

  test("renameColumn is metadata-only and time travel resolves old names") {
    val dir = freshDir()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
    TxLog.commit(dir, Seq(TxLog.writeBatch(df, dir, "b0")))
    val filesBefore = TxLog.liveFiles(dir)
    val v = TxLog.renameColumn(spark, dir, "tag", "label")
    assert(v === 2)
    assert(TxLog.liveFiles(dir) === filesBefore,
      "rename must not touch a single data file")
    assert(TxLog.read(spark, dir).columns.toSeq === Seq("id", "label"))
    assert(TxLog.read(spark, dir).orderBy("id")
      .select("label").as[String].collect().toSeq === Seq("a", "b"),
      "data serves unchanged under the new logical name")
    // time travel BEFORE the rename resolves the old logical schema
    assert(TxLog.read(spark, dir, asOf = 1).columns.toSeq === Seq("id", "tag"))
    // rename target collisions and unknown sources fail loudly
    intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, dir, "nope", "x")
    }
    intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, dir, "id", "label")
    }
    TxLog.destroy(dir)
  }

  test("append after a rename writes physical names; optimize stays transparent") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, 10.0)).toDF("id", "score"), dir, "b0")))
    TxLog.renameColumn(spark, dir, "score", "quality")
    // appends carry LOGICAL names; the mapped writer lands them physical
    TxLog.appendMapped(spark, dir, Seq((2L, 20.0)).toDF("id", "quality"), "b1")
    assert(TxLog.read(spark, dir).orderBy("id").select("quality")
      .as[Double].collect().toSeq === Seq(10.0, 20.0))
    // compaction rewrites bytes under the mapping without disturbing it
    TxLog.optimize(spark, dir, "opt", targetFiles = 1)
    assert(TxLog.read(spark, dir).columns.toSeq === Seq("id", "quality"))
    assert(TxLog.read(spark, dir).orderBy("id").select("quality")
      .as[Double].collect().toSeq === Seq(10.0, 20.0))
    TxLog.destroy(dir)
  }

  test("drop + re-add same name: retired bytes never resurrect") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, "secret"), (2L, "hidden")).toDF("id", "note"), dir, "b0")))
    TxLog.dropColumn(spark, dir, "note")
    assert(TxLog.read(spark, dir).columns.toSeq === Seq("id"))
    // re-add the SAME logical name via an append: fresh physical storage
    TxLog.appendMapped(spark, dir, Seq((3L, "new")).toDF("id", "note"), "b1")
    val rows = TxLog.read(spark, dir, mergeSchema = true).orderBy("id")
      .select("id", "note").as[(Long, Option[String])].collect().toSeq
    assert(rows === Seq((1L, None), (2L, None), (3L, Some("new"))),
      "the dropped column's old values must stay dropped after re-add")
    // time travel before the drop still serves the original values
    assert(TxLog.read(spark, dir, asOf = 1).orderBy("id").select("note")
      .as[String].collect().toSeq === Seq("secret", "hidden"))
    TxLog.destroy(dir)
  }

  test("restore across a rename rolls the logical schema back") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, 5L)).toDF("id", "n"), dir, "b0")))   // v1, pre-mapping
    TxLog.renameColumn(spark, dir, "n", "count")     // v2
    assert(TxLog.read(spark, dir).columns.toSeq === Seq("id", "count"))
    TxLog.restore(dir, 1)                            // v3: back past the verb
    assert(TxLog.read(spark, dir).columns.toSeq === Seq("id", "n"),
      "restore to a pre-mapping version clears the mapping to identity")
    assert(TxLog.snapshot(dir).colMap.isEmpty)
    TxLog.destroy(dir)
  }

  test("checkpoint and shallow clone both carry the column mapping") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, "x")).toDF("id", "tag"), dir, "b0")))
    TxLog.renameColumn(spark, dir, "tag", "label")
    TxLog.checkpoint(dir)
    TxLog.expireManifests(dir)
    assert(TxLog.read(spark, dir).columns.toSeq === Seq("id", "label"),
      "a checkpoint-seeded resolution must replay the mapping")
    val dst = freshDir()
    TxLog.cloneShallow(dir, dst)
    assert(TxLog.read(spark, dst).columns.toSeq === Seq("id", "label"),
      "a shallow clone serves the source's logical schema")
    TxLog.destroy(dir); TxLog.destroy(dst)
  }

  test("readPruned translates logical column names to physical stats") {
    val dir = freshDir()
    val df = Seq((1L, 10.0), (2L, 99.0)).toDF("id", "v")
    TxLog.commitWithStats(dir,
      Seq(TxLog.writeBatch(df, dir, "b0") -> TxLog.columnStats(df, "v")))
    TxLog.renameColumn(spark, dir, "v", "value")
    // prune by the NEW logical name against stats recorded physically
    val hit = TxLog.readPruned(spark, dir, "value", 0.0, 50.0)
    assert(hit.isDefined && hit.get.columns.toSeq === Seq("id", "value"))
    val miss = TxLog.readPruned(spark, dir, "value", 1000.0, 2000.0)
    assert(miss.isEmpty, "disjoint range still prunes after the rename")
    TxLog.destroy(dir)
  }

  // ---- column mapping: metadata-only typed ADD COLUMN ----

  test("addColumn is metadata-only: null-fill, time travel, writes fill it") {
    import org.apache.spark.sql.functions.col
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), dir, "b0")))
    val filesBefore = TxLog.liveFiles(dir)
    val v = TxLog.addColumn(spark, dir, "score", "double")
    assert(v === 2)
    assert(TxLog.liveFiles(dir) === filesBefore,
      "add must not write or touch a single data file")
    // every pre-add row serves a typed null under the new column
    assert(TxLog.read(spark, dir).columns.toSeq === Seq("id", "tag", "score"))
    assert(TxLog.read(spark, dir).schema("score").dataType ===
      org.apache.spark.sql.types.DoubleType)
    assert(TxLog.read(spark, dir).filter(col("score").isNull).count() === 2)
    // time travel BEFORE the add does not show the column
    assert(TxLog.read(spark, dir, asOf = 1).columns.toSeq === Seq("id", "tag"))
    // an UPDATE may SET the added column before any file carries it
    TxLog.updateWhere(spark, dir, "u0", col("id") === 1L,
      Seq("score" -> org.apache.spark.sql.functions.lit(9.5)))
    // appends carry the column under its logical name from here on
    TxLog.appendMapped(spark, dir,
      Seq((3L, "c", 7.0)).toDF("id", "tag", "score"), "b1")
    assert(TxLog.read(spark, dir).orderBy("id")
      .select("score").as[Option[Double]].collect().toSeq ===
      Seq(Some(9.5), None, Some(7.0)))
    // DELETE by a predicate on the added column (mixed files: one has
    // the column physically, one null-fills)
    TxLog.deleteWhere(spark, dir, "d0", col("score") > 8.0)
    assert(TxLog.read(spark, dir).orderBy("id")
      .select("id").as[Long].collect().toSeq === Seq(2L, 3L))
    // duplicate add and malformed type DDL fail loudly
    intercept[IllegalArgumentException] {
      TxLog.addColumn(spark, dir, "score", "double")
    }
    intercept[Exception] { TxLog.addColumn(spark, dir, "x", "no-such-type") }
    TxLog.destroy(dir)
  }

  test("addColumn survives optimize (mixed schemas), checkpoint, clone, restore") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, 10.0)).toDF("id", "v"), dir, "b0")))     // v1
    TxLog.addColumn(spark, dir, "w", "bigint")           // v2
    TxLog.appendMapped(spark, dir,
      Seq((2L, 20.0, 5L)).toDF("id", "v", "w"), "b1")    // v3: file HAS w
    // compaction of files that evolved apart must keep the column
    TxLog.optimize(spark, dir, "opt", targetFiles = 1)   // v4
    assert(TxLog.read(spark, dir).orderBy("id")
      .select("w").as[Option[Long]].collect().toSeq === Seq(None, Some(5L)),
      "optimize across mixed schemas must not drop the evolved column")
    // checkpoint-seeded resolution replays the type registry
    TxLog.checkpoint(dir)
    TxLog.expireManifests(dir)
    assert(TxLog.read(spark, dir).columns.toSeq === Seq("id", "v", "w"))
    // a shallow clone serves the added column too
    val dst = freshDir()
    TxLog.cloneShallow(dir, dst)
    assert(TxLog.read(spark, dst).columns.toSeq === Seq("id", "v", "w"))
    TxLog.destroy(dst)
    // drop, then restore to a post-add version: the type registry is
    // restated so a never-written add would still null-fill (here the
    // compacted file carries w physically; the schema must come back)
    TxLog.dropColumn(spark, dir, "w")
    assert(TxLog.read(spark, dir).columns.toSeq === Seq("id", "v"))
    TxLog.restore(dir, 4)
    assert(TxLog.read(spark, dir).columns.toSeq === Seq("id", "v", "w"),
      "restore across a drop brings the added column back")
    TxLog.destroy(dir)
  }

  // ---- manifest-stats file skipping at scan planning ----

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }.sum
  }

  test("snapshot scans skip stats-disjoint files for pushed filters") {
    val dir = freshDir()
    // three batches with DISJOINT id ranges, each with manifest stats
    Seq((1L, 100L), (101L, 200L), (201L, 300L)).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        val df = (lo to hi).map(x => (x, x * 2.0)).toDF("id", "v").coalesce(1)
        TxLog.commitWithStats(dir, Seq(
          TxLog.writeBatch(df, dir, s"b$i") -> TxLog.columnStats(df, "id")))
    }
    val snap = TxLog.read(spark, dir)
    // an unfiltered read scans everything
    assert(scannedFiles(snap.select("id")) >= 3L)
    // a pushed point filter plans ONE batch dir — skipped before any
    // footer is opened (the FileIndex dropped them at listFiles time)
    val one = snap.filter(col("id") === 150L)
    assert(scannedFiles(one) === 1L,
      "a point filter over disjoint-stat batches must scan one file")
    assert(one.select("v").as[Double].collect().toSeq === Seq(300.0))
    // range filters prune too, and answers stay exact
    val range = snap.filter(col("id") >= 250L)
    assert(scannedFiles(range) === 1L)
    assert(range.count() === 51L)
    // a filter on a stat-less column scans everything (correctness
    // over skipping)
    assert(scannedFiles(snap.filter(col("v") === 300.0)) >= 3L)
    // kill switch restores the plain path (evaluated when the snapshot
    // is BUILT, so re-read after setting it)
    spark.conf.set("spark.graft.scanPrune", "false")
    try assert(scannedFiles(
      TxLog.read(spark, dir).filter(col("id") === 150L)) >= 3L)
    finally spark.conf.unset("spark.graft.scanPrune")
    TxLog.destroy(dir)
  }

  test("stats skipping composes with DV masks and column mapping") {
    val dir = freshDir()
    Seq((1L, 100L), (101L, 200L)).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        val df = (lo to hi).map(x => (x, x * 2.0)).toDF("id", "v").coalesce(1)
        TxLog.commitWithStats(dir, Seq(
          TxLog.writeBatch(df, dir, s"b$i") -> TxLog.columnStats(df, "id")))
    }
    // DV-delete one row in the low batch; rename v → value
    TxLog.deleteWhereDV(spark, dir, "dv", col("id") === 50L)
    TxLog.renameColumn(spark, dir, "v", "value")
    val snap = TxLog.read(spark, dir)
    // the masked batch still skips when the filter excludes it
    val high = snap.filter(col("id") === 150L)
    assert(scannedFiles(high) === 1L,
      "a DV-bound low batch must skip for a high-range filter")
    assert(high.select("value").as[Double].collect().toSeq === Seq(300.0))
    // and the mask applies when the filter lands on the masked batch
    assert(snap.filter(col("id").between(49L, 51L))
      .select("id").as[Long].collect().sorted.toSeq === Seq(49L, 51L))
    TxLog.destroy(dir)
  }

  test("analyze retro-fits range stats metadata-only, preserving blooms and DVs") {
    val dir = freshDir()
    // batch 0: committed with a BLOOM blob only (no ranges)
    val b0 = Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("id", "v", "tag")
      .coalesce(1)
    TxLog.commitWithStats(dir, Seq(TxLog.writeBatch(b0, dir, "b0") ->
      TxLog.bloomBlob(b0, "tag")))
    // batch 1: plain commit, no stats at all
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((3L, 100.0, "c"), (4L, 200.0, "d")).toDF("id", "v", "tag")
        .coalesce(1), dir, "b1")))
    // a DV delete BEFORE analyze: the restate must keep the binding
    TxLog.deleteWhereDV(spark, dir, "dv", col("id") === 3L)
    val filesPre = TxLog.liveFiles(dir)
    val v = TxLog.analyze(spark, dir, Seq("v"))
    assert(TxLog.liveFiles(dir) === filesPre,
      "analyze must not write or touch a single data file")
    // fresh ranges prune; the bloom segment survived alongside them
    assert(scannedFiles(TxLog.read(spark, dir)
      .filter(col("v") === 150.0)) === 1L)
    assert(TxLog.readPrunedByKey(spark, dir, "tag", "zzz").isDefined ===
      true) // b1 has no bloom -> always reads; b0's bloom proves absence
    assert(TxLog.snapshot(dir).entries.exists(_._2.exists(_.contains("#bf#tag"))),
      "analyze must preserve the pre-existing bloom segment")
    // the deletion-vector binding survived the restate
    assert(TxLog.read(spark, dir).orderBy("id")
      .select("id").as[Long].collect().toSeq === Seq(1L, 2L, 4L))
    // time travel to the pre-analyze version still works
    assert(TxLog.read(spark, dir, asOf = v - 1).count() === 3L)
    // unknown columns fail loudly
    intercept[IllegalArgumentException] {
      TxLog.analyze(spark, dir, Seq("nope"))
    }
    TxLog.destroy(dir)
  }

  test("persistent CHECK constraints guard every write verb") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"), dir, "b0")))
    // adding a rule existing data violates is refused
    intercept[IllegalArgumentException] {
      TxLog.addConstraint(spark, dir, "v_big", "v > 15.0")
    }
    val v = TxLog.addConstraint(spark, dir, "v_pos", "v > 0.0")
    assert(TxLog.snapshot(dir).checks === Seq("v_pos" -> "v > 0.0"))
    val filesPre = TxLog.liveFiles(dir)
    // a violating append/merge/update is rejected loudly, zero footprint
    val e = intercept[IllegalArgumentException] {
      TxLog.appendMapped(spark, dir, Seq((3L, -1.0)).toDF("id", "v"), "bad")
    }
    assert(e.getMessage.contains("v_pos") && e.getMessage.contains("CHECK"))
    intercept[IllegalArgumentException] {
      TxLog.merge(spark, dir, "badm", Seq((2L, -5.0)).toDF("id", "v"),
        Seq("id"))
    }
    intercept[IllegalArgumentException] {
      TxLog.updateWhere(spark, dir, "badu", col("id") === 1L,
        Seq("v" -> lit(-9.0)))
    }
    intercept[IllegalArgumentException] {
      TxLog.updateWhereDV(spark, dir, "badud", col("id") === 1L,
        Seq("v" -> lit(-9.0)))
    }
    assert(TxLog.liveFiles(dir) === filesPre &&
      TxLog.latestVersion(dir) === v,
      "a rejected write must leave no commit behind")
    // valid writes pass; a DELETE cannot violate
    TxLog.appendMapped(spark, dir, Seq((3L, 30.0)).toDF("id", "v"), "b1")
    TxLog.deleteWhere(spark, dir, "d0", col("id") === 2L)
    assert(TxLog.read(spark, dir).orderBy("id").select("v")
      .as[Double].collect().toSeq === Seq(10.0, 30.0))
    // the rule travels with a clone, and restore rolls it back
    val dst = freshDir()
    TxLog.cloneShallow(dir, dst)
    assert(TxLog.snapshot(dst).checks === Seq("v_pos" -> "v > 0.0"))
    TxLog.destroy(dst)
    TxLog.restore(dir, 1) // pre-constraint version
    assert(TxLog.snapshot(dir).checks.isEmpty,
      "restore across ADD CONSTRAINT must roll the rule back")
    // re-add, checkpoint, expire: the rule survives log retention
    TxLog.addConstraint(spark, dir, "v_pos", "v > 0.0")
    TxLog.checkpoint(dir)
    TxLog.expireManifests(dir)
    intercept[IllegalArgumentException] {
      TxLog.appendMapped(spark, dir, Seq((9L, -1.0)).toDF("id", "v"), "b9")
    }
    // drop releases the guard
    TxLog.dropConstraint(dir, "v_pos")
    TxLog.appendMapped(spark, dir, Seq((9L, -1.0)).toDF("id", "v"), "b9")
    assert(TxLog.read(spark, dir).count() === 3L)
    TxLog.destroy(dir)
  }

  test("racing partitioned ingests both land (lost-race retry)") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((0L, "z")).toDF("id", "tag"), dir, "seed")))
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    def run(name: String, rows: Seq[(Long, String)]) =
      pool.submit(new java.util.concurrent.Callable[Int] {
        override def call(): Int = {
          gate.await()
          TxLog.commitPartitionedCols(spark, dir, name,
            rows.toDF("id", "tag"), Seq("tag"))
        }
      })
    val f1 = run("pa", Seq((1L, "a")))
    val f2 = run("pb", Seq((2L, "b")))
    gate.countDown()
    val (v1, v2) = (f1.get(), f2.get())
    pool.shutdown()
    assert(Set(v1, v2) === Set(2, 3),
      s"both racing ingests must land as consecutive versions, got $v1/$v2")
    assert(TxLog.read(spark, dir).count() === 3)
    TxLog.destroy(dir)
  }

  test("replaceWhere: atomic window swap with containment and pruning") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = freshDir()
    val pLow = TxLog.writeBatch(
      Seq((1L, "d1", 1.0), (2L, "d1", 2.0)).toDF("id", "day", "v"),
      dir, "low")
    val pHigh = TxLog.writeBatch(
      Seq((10L, "d2", 10.0)).toDF("id", "day", "v"), dir, "high")
    TxLog.commitWithStats(dir, Seq(pLow -> TxLog.columnStats(
      Seq((1L, "d1", 1.0), (2L, "d1", 2.0)).toDF("id", "day", "v"), "id")))
    TxLog.commitWithStats(dir, Seq(pHigh -> TxLog.columnStats(
      Seq((10L, "d2", 10.0)).toDF("id", "day", "v"), "id")))
    // the reload: day d1 gets fresh content in ONE commit
    val v = TxLog.replaceWhere(spark, dir, "r1",
      Seq((3L, "d1", 3.0), (4L, "d1", 4.0), (5L, "d1", 5.0))
        .toDF("id", "day", "v"),
      col("day") === "d1")
    assert(v === 3, "swap must be one atomic commit")
    assert(TxLog.read(spark, dir).orderBy("id").as[(Long, String, Double)]
      .collect().toSeq === Seq((3L, "d1", 3.0), (4L, "d1", 4.0),
        (5L, "d1", 5.0), (10L, "d2", 10.0)))
    // the untouched window's file never rewrote
    assert(TxLog.liveFiles(dir).contains(pHigh),
      "a file with no matching rows must not rewrite")
    // time travel to the replaced content still serves
    assert(TxLog.read(spark, dir, asOf = 2).count() === 3)
    // source containment: a row outside the window is rejected loudly
    val e = intercept[IllegalArgumentException] {
      TxLog.replaceWhere(spark, dir, "r2",
        Seq((6L, "d9", 6.0)).toDF("id", "day", "v"), col("day") === "d1")
    }
    assert(e.getMessage.contains("satisfy the predicate"))
    // empty source = delete-the-window semantics
    TxLog.replaceWhere(spark, dir, "r3",
      Seq.empty[(Long, String, Double)].toDF("id", "day", "v"),
      col("day") === "d1")
    assert(TxLog.read(spark, dir).as[(Long, String, Double)]
      .collect().toSeq === Seq((10L, "d2", 10.0)))
    // no-match + empty source commits nothing
    assert(TxLog.replaceWhere(spark, dir, "r4",
      Seq.empty[(Long, String, Double)].toDF("id", "day", "v"),
      col("day") === "d1") === 0)
    TxLog.destroy(dir)
  }

  test("replaceWhere resolves logical names and reads through DV masks") {
    import org.apache.spark.sql.functions.col
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, "d1", 1.0), (2L, "d1", 2.0), (10L, "d2", 10.0))
        .toDF("id", "day", "score"), dir, "b0")))
    // a DV delete masks id=2 BEFORE the replace: the remainder rewrite
    // must not resurrect it into the d2 window it keeps
    TxLog.deleteWhereDV(spark, dir, "dv", col("id") === 10L)
    TxLog.renameColumn(spark, dir, "score", "quality")
    val v = TxLog.replaceWhere(spark, dir, "r1",
      Seq((3L, "d1", 3.0)).toDF("id", "day", "quality"),
      col("day") === "d1")
    assert(v > 0)
    assert(TxLog.read(spark, dir).orderBy("id").as[(Long, String, Double)]
      .collect().toSeq === Seq((3L, "d1", 3.0)),
      "the DV-masked row must stay deleted and the window must swap")
    // a retired physical name in the predicate is rejected loudly
    intercept[IllegalArgumentException] {
      TxLog.replaceWhere(spark, dir, "r2",
        Seq((4L, "d1", 4.0)).toDF("id", "day", "quality"),
        col("score") > 0)
    }
    TxLog.destroy(dir)
  }

  test("addConstraint races a violating append: exactly one side wins") {
    // the ADVICE r13 window: without pinning the existing-data scan's
    // version (atVersion), an append committing between the scan and
    // the constraint commit is seen by NEITHER side — the constraint is
    // born violated. With the pin, every interleaving resolves to
    // exactly one winner: constraint first → the append re-validates on
    // its lost-race retry and is rejected; append first → the
    // constraint's retry re-scans and refuses the rule.
    (1 to 6).foreach { round =>
      val dir = freshDir()
      TxLog.commit(dir, Seq(TxLog.writeBatch(
        Seq((1L, 10.0)).toDF("id", "v"), dir, "b0")))
      val gate = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      def run(body: => Unit): java.util.concurrent.Future[Boolean] =
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          override def call(): Boolean = {
            gate.await()
            try { body; true }
            catch { case _: IllegalArgumentException => false }
          }
        })
      val bad = Seq((2L, -5.0)).toDF("id", "v")
      val fAppend = run(TxLog.appendMapped(spark, dir, bad, s"bad$round"))
      val fRule = run(TxLog.addConstraint(spark, dir, "v_pos", "v > 0.0"))
      gate.countDown()
      val (appended, ruled) = (fAppend.get(), fRule.get())
      pool.shutdown()
      assert(appended ^ ruled,
        s"round $round: exactly one of (append=$appended, rule=$ruled) " +
          "must win — both succeeding means a constraint born violated")
      if (ruled) {
        import org.apache.spark.sql.functions.col
        assert(TxLog.read(spark, dir).filter(col("v") <= 0.0).count() === 0,
          s"round $round: the committed constraint must guard a clean table")
      }
      TxLog.destroy(dir)
    }
  }

  test("overwritePartitioned on a mapped table restates the colmap") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, 10.0, "a")).toDF("id", "score", "part"), dir, "b0")))
    TxLog.renameColumn(spark, dir, "score", "quality")
    assert(TxLog.snapshot(dir).colMap.isDefined)
    // the partitioned full replace writes LOGICAL-named leaves; leaving
    // the stale mapping in force would project the renamed column away
    // from the new files (ADVICE r13)
    TxLog.overwritePartitionedCols(spark, dir, "ow",
      Seq((2L, 20.0, "b"), (3L, 30.0, "c")).toDF("id", "quality", "part"),
      Seq("part"))
    assert(TxLog.snapshot(dir).colMap.isEmpty,
      "a full replace must clear the mapping to identity")
    assert(TxLog.read(spark, dir).orderBy("id")
      .as[(Long, Double, String)].collect().toSeq ===
      Seq((2L, 20.0, "b"), (3L, 30.0, "c")))
    // time travel across the replace still serves the mapped schema
    assert(TxLog.read(spark, dir, asOf = 2).columns.toSeq ===
      Seq("id", "quality", "part"))
    TxLog.destroy(dir)
  }

  test("truncate empties the table, restates the colmap, keeps history") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, 1.0)).toDF("id", "score"), dir, "b0")))
    TxLog.renameColumn(spark, dir, "score", "quality")
    val v = TxLog.truncate(dir)
    assert(TxLog.liveFiles(dir).isEmpty)
    assert(TxLog.snapshot(dir).colMap.isEmpty)
    assert(TxLog.read(spark, dir, asOf = v - 1).count() === 1L,
      "the truncated content must still time travel")
    TxLog.destroy(dir)
  }

  test("analyze resolves logical names on a mapped table") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, 10.0)).toDF("id", "score").coalesce(1), dir, "b0")))
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((2L, 99.0)).toDF("id", "score").coalesce(1), dir, "b1")))
    TxLog.renameColumn(spark, dir, "score", "quality")
    TxLog.analyze(spark, dir, Seq("quality"))
    // stats landed under the PHYSICAL name; pruning by the logical one
    assert(TxLog.readPruned(spark, dir, "quality", 0.0, 50.0)
      .get.count() === 1L)
    // the retired physical name is rejected, like every verb
    intercept[IllegalArgumentException] {
      TxLog.analyze(spark, dir, Seq("score"))
    }
    TxLog.destroy(dir)
  }

  test("addColumn then drop: never-written storage stays dropped through re-add") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, "x")).toDF("id", "tag"), dir, "b0")))
    TxLog.addColumn(spark, dir, "note", "string")
    TxLog.appendMapped(spark, dir,
      Seq((2L, "y", "secret")).toDF("id", "tag", "note"), "b1")
    TxLog.dropColumn(spark, dir, "note")
    // re-ADD the same logical name: fresh physical storage, old bytes inert
    TxLog.addColumn(spark, dir, "note", "string")
    assert(TxLog.read(spark, dir).orderBy("id")
      .select("note").as[Option[String]].collect().toSeq === Seq(None, None),
      "the re-added column must not resurrect the dropped column's bytes")
    TxLog.destroy(dir)
  }

  test("deleteByKeys: key-set delete with pruning, null keys inert, logical names") {
    import org.apache.spark.sql.functions.col
    val dir = freshDir()
    val pLow = TxLog.writeBatch(
      Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"), dir, "low")
    val pHigh = TxLog.writeBatch(
      Seq((10L, 10.0), (11L, 11.0)).toDF("id", "v"), dir, "high")
    TxLog.commit(dir, Seq(pLow)); TxLog.commit(dir, Seq(pHigh))
    // keys 2 (present, low batch) + null (inert) + 99 (absent, ignored)
    val keys = Seq(Option(2L), None, Option(99L)).toDF("id")
    assert(TxLog.deleteByKeys(spark, dir, "d1", keys, Seq("id")) === 3)
    val live = TxLog.liveFiles(dir)
    assert(live.contains(pHigh) && !live.contains(pLow),
      "only the batch holding a matched key may rewrite")
    assert(TxLog.read(spark, dir).orderBy("id").as[(Long, Double)]
      .collect().toSeq === Seq((1L, 1.0), (10L, 10.0), (11L, 11.0)))
    // no-match delete commits nothing
    assert(TxLog.deleteByKeys(spark, dir, "d2",
      Seq(500L).toDF("id"), Seq("id")) === 0)
    // logical key names on a mapped table; retired name rejected
    TxLog.renameColumn(spark, dir, "id", "key_id")
    assert(TxLog.deleteByKeys(spark, dir, "d3",
      Seq(10L).toDF("key_id"), Seq("key_id")) > 0)
    assert(TxLog.read(spark, dir).orderBy("key_id").select("v")
      .as[Double].collect().toSeq === Seq(1.0, 11.0))
    intercept[IllegalArgumentException] {
      TxLog.deleteByKeys(spark, dir, "d4", Seq(1L).toDF("id"), Seq("id"))
    }
    TxLog.destroy(dir)
  }

  test("convertParquet: zero-copy seed, refusals, verbs compose after") {
    import org.apache.spark.sql.functions.col
    val dir = freshDir()
    Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v")
      .repartition(2).write.mode("overwrite").parquet(dir)
    val names = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(TxLog.convertParquet(spark, dir, Seq("id")) === 1)
    assert(new java.io.File(s"$dir/data/b_convert0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet === names,
      "part files move, never copy")
    // already-a-table refusal
    intercept[IllegalArgumentException] {
      TxLog.convertParquet(spark, dir)
    }
    // stats landed: a disjoint range prunes without opening files
    assert(TxLog.readPruned(spark, dir, "id", 100.0, 200.0).isEmpty)
    // the verb surface works from the seed commit on
    TxLog.deleteWhere(spark, dir, "d", col("v") > 2.5)
    assert(TxLog.read(spark, dir).orderBy("id").as[(Long, Double)]
      .collect().toSeq === Seq((1L, 1.0), (2L, 2.0)))
    // nothing-to-convert refusal
    val empty = freshDir()
    intercept[IllegalArgumentException] {
      TxLog.convertParquet(spark, empty)
    }
    TxLog.destroy(dir)
  }

  test("overwriteAll replaces content atomically and clears the mapping") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, 1.0)).toDF("id", "v"), dir, "b0")))
    TxLog.renameColumn(spark, dir, "v", "amount")
    val v = TxLog.overwriteAll(spark, dir,
      Seq((9L, "x")).toDF("k", "tag"), "ow")
    assert(v === 3)
    // the new frame IS the schema: logical == physical again
    assert(TxLog.read(spark, dir).columns.toSeq === Seq("k", "tag"))
    assert(TxLog.snapshot(dir).colMap.isEmpty,
      "a full replace must clear the mapping back to identity")
    // the replaced content still time travels under its OWN schema
    assert(TxLog.read(spark, dir, asOf = 2).columns.toSeq ===
      Seq("id", "amount"))
    TxLog.destroy(dir)
  }

  // ---- column mapping × row-level DML (r12 composition hole) ----

  test("DML verbs address logical names on a renamed table") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "value"),
      dir, "b0")))
    TxLog.renameColumn(spark, dir, "value", "amount")
    // DELETE by the NEW logical name (files store 'value' physically)
    assert(TxLog.deleteWhere(spark, dir, "d1", col("amount") > 25.0) > 0)
    assert(TxLog.read(spark, dir).orderBy("id").select("amount")
      .as[Double].collect().toSeq === Seq(10.0, 20.0))
    // UPDATE: predicate, SET target and SET right-hand side all logical
    assert(TxLog.updateWhere(spark, dir, "u1", col("id") === 2L,
      Seq("amount" -> (col("amount") + lit(5.0)))) > 0)
    assert(TxLog.read(spark, dir).orderBy("id").select("amount")
      .as[Double].collect().toSeq === Seq(10.0, 25.0))
    // MERGE: source carries the LOGICAL schema; keys are logical
    assert(TxLog.merge(spark, dir, "m1",
      Seq((2L, 99.0), (4L, 40.0)).toDF("id", "amount"), Seq("id")) > 0)
    assert(TxLog.read(spark, dir).orderBy("id")
      .select("id", "amount").as[(Long, Double)].collect().toSeq ===
      Seq((1L, 10.0), (2L, 99.0), (4L, 40.0)))
    // time travel ACROSS the rename still serves the old logical schema
    assert(TxLog.read(spark, dir, asOf = 1).columns.toSeq ===
      Seq("id", "value"))
    TxLog.destroy(dir)
  }

  test("DML by a retired physical name is rejected loudly") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, 10.0, "x")).toDF("id", "value", "note"), dir, "b0")))
    TxLog.renameColumn(spark, dir, "value", "amount")
    TxLog.dropColumn(spark, dir, "note")
    // the pre-rename physical name: rejected, names the logical twin
    val e1 = intercept[IllegalArgumentException] {
      TxLog.deleteWhere(spark, dir, "d", col("value") > 0.0)
    }
    assert(e1.getMessage.contains("'value'") &&
      e1.getMessage.contains("amount"),
      s"rejection must point at the logical name: ${e1.getMessage}")
    // the dropped column's storage name: rejected as not-in-schema
    intercept[IllegalArgumentException] {
      TxLog.updateWhere(spark, dir, "u", col("note").isNotNull,
        Seq("amount" -> lit(0.0)))
    }
    // a SET target by physical name: rejected too
    intercept[IllegalArgumentException] {
      TxLog.updateWhere(spark, dir, "u2", col("id") === 1L,
        Seq("value" -> lit(0.0)))
    }
    // merge keyed on a physical name: rejected
    intercept[IllegalArgumentException] {
      TxLog.merge(spark, dir, "m",
        Seq((1L, 1.0)).toDF("id", "amount"), Seq("value"))
    }
    TxLog.destroy(dir)
  }

  test("DV delete/update by logical names; merge null-fills retired storage") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"))
        .toDF("id", "value", "note"), dir, "b0")))
    TxLog.renameColumn(spark, dir, "value", "amount")
    TxLog.dropColumn(spark, dir, "note")   // 'note' bytes stay in b0
    // merge-on-read verbs resolve logical names the same as copy-on-write
    assert(TxLog.deleteWhereDV(spark, dir, "dv1", col("amount") === 30.0) > 0)
    assert(TxLog.updateWhereDV(spark, dir, "dv2", col("id") === 1L,
      Seq("amount" -> (col("amount") * lit(2.0)))) > 0)
    assert(TxLog.read(spark, dir).orderBy("id").select("amount")
      .as[Double].collect().toSeq === Seq(20.0, 20.0))
    // merge into the table whose live file still CARRIES retired 'note'
    // bytes: the source (logical schema) lands with note null-filled, and
    // the merged snapshot never resurrects the dropped values
    assert(TxLog.merge(spark, dir, "m1",
      Seq((2L, 22.0), (9L, 90.0)).toDF("id", "amount"), Seq("id")) > 0)
    assert(TxLog.read(spark, dir, mergeSchema = true).orderBy("id")
      .select("id", "amount").as[(Long, Double)].collect().toSeq ===
      Seq((1L, 20.0), (2L, 22.0), (9L, 90.0)))
    assert(!TxLog.read(spark, dir).columns.contains("note"),
      "the dropped column must stay dropped through DML")
    TxLog.destroy(dir)
  }

  test("a throwing conditional put does not leak the tmp manifest") {
    FlakyObjectStoreFileSystem.register(spark)
    val local = freshDir()
    val dir = s"${FlakyObjectStoreFileSystem.Scheme}://$local"
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("graft.txlog.claim", "conditional-create")
    try {
      intercept[java.io.IOException] {
        TxLog.commit(dir, Seq("some/batch/path"))
      }
      val logDir = new java.io.File(local, "_txlog")
      val leaked = Option(logDir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.contains(".tmp"))
      assert(leaked.isEmpty,
        s"tmp manifests must be swept on the throwing path, found: ${
          leaked.map(_.getName).mkString(",")}")
    } finally hc.set("graft.txlog.claim", "scheme")
    TxLog.destroy(dir)
  }

  test("optimizeZOrder: rank-normalized z-layout prunes on BOTH dimensions") {
    val dir = freshDir()
    // a uniform 40x40 grid with WILDLY different raw scales (x in
    // thousands, y in units): raw-value z-ordering would sort ~only by x
    // and y-pruning would fail — rank normalization is what's under test
    val grid = (for (x <- 0 until 40; y <- 0 until 40)
      yield (x * 1000L, y.toLong, 1L))
      .toDF("x", "y", "v")
    TxLog.commit(dir, Seq(TxLog.writeBatch(grid, dir, "g")))
    val v = TxLog.optimizeZOrder(spark, dir, "z", "x", "y",
      targetFiles = 4)
    assert(v === 2)
    val entries = TxLog.snapshot(dir).entries
    assert(entries.size === 4)
    assert(entries.forall(_._2.exists(_.contains("x;"))),
      "every z-file must carry multi-column stats")
    // content neutral
    assert(TxLog.read(spark, dir).count() === 1600)
    val full = TxLog.read(spark, dir)
    // a narrow query on either dimension must skip files
    val px = TxLog.readPruned(spark, dir, "x", 0, 5000).get
    assert(px.inputFiles.length < full.inputFiles.length, "x-prune")
    assert(px.filter(col("x") <= 5000).count() === 6 * 40L,
      "pruning loses no x-range rows")
    val py = TxLog.readPruned(spark, dir, "y", 0, 5).get
    assert(py.inputFiles.length < full.inputFiles.length, "y-prune")
    assert(py.filter(col("y") <= 5).count() === 6 * 40L,
      "pruning loses no y-range rows")
    TxLog.destroy(dir)
  }

  test("conditional-create claim hosts a multi-writer log on a store with no atomic rename") {
    FakeObjectStoreFileSystem.register(spark)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("graft.txlog.claim", "conditional-create")
    try {
      val root = FakeObjectStoreFileSystem.uri(freshDir())
      // 8 writers race through the fakeos:// scheme, whose rename blindly
      // replaces (two racing renames would both "succeed" and a manifest
      // would vanish) — the conditional put is the only safe claim here
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val futures = (1 to 8).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            TxLog.commitWithRetry(root, Seq(s"/data/f$i"),
              maxAttempts = 200)
            ()
          }
        })
      }
      futures.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()
      assert(TxLog.latestVersion(root) === 8, "one version per writer")
      assert(TxLog.liveFiles(root).toSet ===
        (1 to 8).map(i => s"/data/f$i").toSet, "no commit lost")
      // and ordinary single-writer machinery still composes on top
      assert(TxLog.checkpoint(root) === 8)
      assert(TxLog.liveFiles(root).size === 8)
      TxLog.destroy(root)
    } finally hc.set("graft.txlog.claim", "scheme")
  }

  test("conditional-create refuses a store that lacks ConditionalPut") {
    // silently falling back to a replace-happy rename would let two
    // writers both win a version — refusal is the contract
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("graft.txlog.claim", "conditional-create")
    try {
      val dir = freshDir()
      intercept[UnsupportedOperationException] {
        TxLog.commit(dir, Seq("/data/f1"))
      }
      TxLog.destroy(dir)
    } finally hc.set("graft.txlog.claim", "scheme")
  }

  test("default scheme claim is untouched by the pluggable seam") {
    // guard for q_txlog_snapshot and every existing caller: with the conf
    // unset, commits still route through SchemeClaim (link(2) locally)
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(Seq(1).toDF("x"), dir, "a")))
    assert(TxLog.read(spark, dir).as[Int].collect().toSeq === Seq(1))
    TxLog.destroy(dir)
  }

  test("cross-process writer race: two JVMs, one winner per version, no lost manifests") {
    // The claim primitive's atomicity must hold between PROCESSES (two
    // drivers committing to one table) — link(2) is cross-process atomic
    // by construction, but only an actual second JVM proves the
    // end-to-end discipline (no JVM-level lock is doing the work).
    val dir = freshDir()
    new java.io.File(dir).mkdirs()
    val n = 15
    def loc(c: Class[_]): String =
      new java.io.File(c.getProtectionDomain.getCodeSource.getLocation.toURI)
        .getAbsolutePath
    val sparkJarsDir =
      new java.io.File(loc(classOf[org.apache.hadoop.fs.FileSystem]))
        .getParent
    val cp = Seq(
      loc(TxLog.getClass),              // main classes
      loc(TxLogRaceChild.getClass),     // test classes
      s"$sparkJarsDir/*"                // hadoop + scala-library + deps
    ).mkString(java.io.File.pathSeparator)
    val javaBin = sys.props("java.home") + "/bin/java"
    def spawn(tag: String): Process = {
      val pb = new ProcessBuilder(
        javaBin, "-cp", cp, "graft.sources.TxLogRaceChild",
        dir, n.toString, tag)
      pb.redirectErrorStream(true)
      pb.start()
    }
    val (p1, p2) = (spawn("p1"), spawn("p2"))
    def drain(p: Process): String = {
      val out = new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
        s"child JVM hung; output so far:\n$out")
      out
    }
    val (o1, o2) = (drain(p1), drain(p2))
    assert(p1.exitValue() === 0, s"child p1 failed:\n$o1")
    assert(p2.exitValue() === 0, s"child p2 failed:\n$o2")
    // a contiguous chain of 2n versions, each manifest holding exactly
    // one add, and the union covering every commit both children made
    assert(TxLog.latestVersion(dir) === 2 * n)
    val expected =
      (0 until n).flatMap(i => Seq(s"/data/p1-$i", s"/data/p2-$i")).toSet
    assert(TxLog.liveFiles(dir).toSet === expected,
      "a commit that reported success in either process must be visible")
    TxLog.destroy(dir)
  }

  // ---- deletion vectors: merge-on-read DELETE / UPDATE ----

  /** A 3-batch integer table for the DV tests: b1 = 0..9, b2 = 10..19,
    * b3 = 20..29, with a null-carrying twist column for the SQL
    * null-semantics checks. */
  private def dvTable(): (String, Seq[String]) = {
    val dir = freshDir()
    val paths = Seq((0, "b1"), (10, "b2"), (20, "b3")).map { case (lo, n) =>
      val df = (lo until lo + 10)
        .map(i => (i.toLong, if (i % 7 == 0) None else Some(i.toLong)))
        .toDF("x", "y")
      val p = TxLog.writeBatch(df, dir, n)
      TxLog.commit(dir, Seq(p))
      p
    }
    (dir, paths)
  }

  test("deleteWhereDV masks rows without touching any data file") {
    val (dir, paths) = dvTable()
    val before = TxLog.liveFiles(dir)
    val v = TxLog.deleteWhereDV(spark, dir, "dv1", col("x") >= 12 && col("x") < 15)
    assert(v === 4, "the DV delete lands as an ordinary version")
    assert(TxLog.liveFiles(dir) === before,
      "merge-on-read: the data file set must be byte-identical")
    val dvs = TxLog.snapshot(dir).dvs
    assert(dvs.keySet === Set(paths(1)), "only the holding batch is bound")
    assert(TxLog.read(spark, dir).select("x").as[Long].collect().sorted.toSeq
      === ((0L to 29L).filterNot(x => x >= 12 && x < 15)))
    // time travel: the pre-delete snapshot still serves the masked rows
    assert(TxLog.read(spark, dir, asOf = 3).count() === 30)
    TxLog.destroy(dir)
  }

  test("deleteWhereDV: the touched-parts list rides the pin job") {
    import org.apache.spark.sql.graftbridge.SqlBridge
    val (dir, _) = dvTable()
    // the pin and the sidecar write — no separate distinct-collect of the
    // matched part files
    val (v, jobs) = SqlBridge.jobsOf(spark)(
      TxLog.deleteWhereDV(spark, dir, "dvj", col("x") >= 12 && col("x") < 15))
    assert(v === 4)
    assert(jobs <= 2, s"deleteWhereDV started $jobs jobs")
    assert(TxLog.read(spark, dir).count() === 27)
    TxLog.destroy(dir)
  }

  test("deleteWhereDV: SQL semantics — null predicate keeps, no match commits nothing") {
    val (dir, _) = dvTable()
    // y is null for multiples of 7; y % 2 = 0 is NULL there -> kept
    val v = TxLog.deleteWhereDV(spark, dir, "dvn", col("y") % 2 === 0)
    assert(v === 4)
    val kept = TxLog.read(spark, dir).select("x").as[Long].collect().sorted.toSeq
    assert(kept === (0L to 29L).filter(x => x % 7 == 0 || x % 2 == 1),
      "null-predicate rows are KEPT, even evens")
    assert(TxLog.deleteWhereDV(spark, dir, "dvn2", col("y") % 2 === 0) === 0,
      "repeat delete matches nothing through the mask — no commit")
    assert(TxLog.latestVersion(dir) === 4)
    TxLog.destroy(dir)
  }

  test("deletion vectors are cumulative: a rebind unions coordinates") {
    val (dir, paths) = dvTable()
    TxLog.deleteWhereDV(spark, dir, "dva", col("x") === 12)
    TxLog.deleteWhereDV(spark, dir, "dvb", col("x") === 17)
    assert(TxLog.snapshot(dir).dvs.size === 1, "one binding per file, no chains")
    assert(TxLog.read(spark, dir).select("x").as[Long].collect().sorted.toSeq
      === (0L to 29L).filterNot(x => x == 12 || x == 17))
    // pruned reads apply the mask too
    val pr = TxLog.readPruned(spark, dir, "x", 10, 19)
    assert(pr.isEmpty || !pr.get.select("x").as[Long].collect().contains(12L))
    TxLog.destroy(dir)
  }

  test("copy-on-write verbs read through the mask: no resurrection") {
    val (dir, paths) = dvTable()
    TxLog.deleteWhereDV(spark, dir, "dv1", col("x") === 11)
    // CoW delete on the SAME file materializes the mask in the rewrite
    TxLog.deleteWhere(spark, dir, "cow", col("x") === 13)
    assert(TxLog.snapshot(dir).dvs.isEmpty,
      "the rewrite retired the bound file, clearing its binding")
    assert(TxLog.read(spark, dir).select("x").as[Long].collect().sorted.toSeq
      === (0L to 29L).filterNot(x => x == 11 || x == 13),
      "the masked row must NOT come back in the rewrite")
    TxLog.destroy(dir)
  }

  test("optimize materializes deletion vectors and retires sidecars") {
    val (dir, _) = dvTable()
    TxLog.deleteWhereDV(spark, dir, "dv1", col("x") % 10 === 3)
    assert(TxLog.snapshot(dir).dvs.nonEmpty)
    assert(TxLog.optimize(spark, dir, "opt") > 0)
    assert(TxLog.snapshot(dir).dvs.isEmpty, "compaction materializes the mask")
    assert(TxLog.read(spark, dir).select("x").as[Long].collect().sorted.toSeq
      === (0L to 29L).filterNot(_ % 10 == 3))
    // after checkpoint + expire, vacuum reclaims the orphaned sidecar
    TxLog.checkpoint(dir)
    TxLog.expireManifests(dir)
    val swept = TxLog.vacuum(dir)
    assert(swept.exists(_.contains("dv1")), "orphaned sidecar reclaimed")
    assert(TxLog.read(spark, dir).count() === 27, "content intact after vacuum")
    TxLog.destroy(dir)
  }

  test("vacuum never sweeps a sidecar a resolvable version references") {
    val (dir, _) = dvTable()
    TxLog.deleteWhereDV(spark, dir, "dvkeep", col("x") === 5)
    val swept = TxLog.vacuum(dir)
    assert(!swept.exists(_.contains("dvkeep")),
      "the live binding's sidecar must survive vacuum")
    assert(TxLog.read(spark, dir).count() === 29)
    TxLog.destroy(dir)
  }

  test("readChanges across a DV commit emits exactly the masked rows as -1") {
    val (dir, _) = dvTable()
    val v0 = TxLog.latestVersion(dir)
    TxLog.deleteWhereDV(spark, dir, "dvc", col("x").isin(2L, 12L, 22L))
    val feed = TxLog.readChanges(spark, dir, v0, TxLog.latestVersion(dir)).get
    val rows = feed.select("x", "sign").as[(Long, Int)].collect().sorted.toSeq
    assert(rows === Seq((2L, -1), (12L, -1), (22L, -1)),
      "a merge-on-read delete is pure row retraction: no +1 churn at all")
    TxLog.destroy(dir)
  }

  test("updateWhereDV: masked originals + one new file; SET reads the pre-update row") {
    val (dir, paths) = dvTable()
    val before = TxLog.liveFiles(dir)
    // swap-style SET: x <- x + y, y <- x  (both read the PRE-update row)
    val v = TxLog.updateWhereDV(spark, dir, "u1",
      col("x") === 22, Seq("x" -> (col("x") + col("y")), "y" -> col("x")))
    assert(v === 4)
    val live = TxLog.liveFiles(dir)
    assert(before.forall(live.contains),
      "merge-on-read UPDATE removes nothing")
    assert(live.size === before.size + 1, "updated copies land as one file")
    val got = TxLog.read(spark, dir).filter(col("y") === 22)
      .select("x").as[Long].collect().toSeq
    assert(got === Seq(44L), "x = old x + old y = 44, y = old x = 22")
    assert(TxLog.read(spark, dir).count() === 30, "row count invariant")
    // no-match update commits nothing
    assert(TxLog.updateWhereDV(spark, dir, "u2",
      col("x") === 999, Seq("x" -> lit(0L))) === 0)
    TxLog.destroy(dir)
  }

  test("restore rolls deletion vectors back and forward") {
    val (dir, _) = dvTable()
    TxLog.deleteWhereDV(spark, dir, "dvr", col("x") === 7)   // v4
    val v4 = TxLog.latestVersion(dir)
    TxLog.deleteWhereDV(spark, dir, "dvr2", col("x") === 8)  // v5
    assert(TxLog.read(spark, dir).count() === 28)
    // restore to the one-deletion state: row 8 resurrects, 7 stays masked
    assert(TxLog.restore(dir, v4) > 0)
    val xs = TxLog.read(spark, dir).select("x").as[Long].collect().sorted.toSeq
    assert(xs === (0L to 29L).filterNot(_ == 7))
    // restore to pre-delete: everything visible again (binding cleared)
    assert(TxLog.restore(dir, 3) > 0)
    assert(TxLog.snapshot(dir).dvs.isEmpty)
    assert(TxLog.read(spark, dir).count() === 30)
    // the resurrection is visible to CDC as +1 rows
    val feed = TxLog.readChanges(spark, dir, v4 + 1, TxLog.latestVersion(dir)).get
    val back = feed.filter(col("sign") === 1).select("x").as[Long]
      .collect().sorted.toSeq
    assert(back === Seq(7L, 8L), "rows a restore unmasks flow as +1")
    TxLog.destroy(dir)
  }

  test("checkpoint serializes DV bindings; masked reads survive expiry") {
    val (dir, _) = dvTable()
    TxLog.deleteWhereDV(spark, dir, "dvck", col("x") < 3)
    TxLog.checkpoint(dir)
    TxLog.expireManifests(dir)
    assert(TxLog.read(spark, dir).select("x").as[Long].collect().sorted.toSeq
      === (3L to 29L), "the checkpoint-seeded snapshot still masks")
    assert(TxLog.snapshot(dir).dvs.size === 1)
    TxLog.destroy(dir)
  }

  test("merge reads through the mask: a masked key cannot match or resurrect") {
    val (dir, _) = dvTable()
    TxLog.deleteWhereDV(spark, dir, "dvm", col("x") === 15)
    // upsert key 15 back in with a new y: it's an INSERT (no live match),
    // and the masked original must not reappear alongside it
    val src = Seq((15L, Some(1000L))).toDF("x", "y")
    TxLog.merge(spark, dir, "m", src, Seq("x"))
    val got = TxLog.read(spark, dir).filter(col("x") === 15)
      .select("y").as[Option[Long]].collect().toSeq
    assert(got === Seq(Some(1000L)), "exactly the upserted row, once")
    TxLog.destroy(dir)
  }

  test("optimizeDv rewrites only files past the masked-fraction threshold") {
    val (dir, paths) = dvTable()
    // b2 (10..19) fully masked; b3 (20..29) masked one row of ten
    TxLog.deleteWhereDV(spark, dir, "dvh", col("x") >= 10 && col("x") < 20)
    TxLog.deleteWhereDV(spark, dir, "dvl", col("x") === 25)
    assert(TxLog.snapshot(dir).dvs.keySet === Set(paths(1), paths(2)))
    val v = TxLog.optimizeDv(spark, dir, "mat", minMaskedFraction = 0.5)
    assert(v > 0)
    val live = TxLog.liveFiles(dir)
    assert(!live.contains(paths(1)),
      "the fully-masked file rewrites to NOTHING: removed, no replacement")
    assert(live.contains(paths(2)),
      "the 10%-masked file stays under the threshold — untouched")
    assert(TxLog.snapshot(dir).dvs.keySet === Set(paths(2)),
      "the light file keeps its binding; the heavy one retired with its file")
    assert(TxLog.read(spark, dir).select("x").as[Long].collect().sorted.toSeq
      === (0L to 29L).filterNot(x => (x >= 10 && x < 20) || x == 25))
    // threshold crossed later: a second pass materializes the rest
    assert(TxLog.optimizeDv(spark, dir, "mat2", minMaskedFraction = 0.05) > 0)
    assert(TxLog.snapshot(dir).dvs.isEmpty)
    assert(TxLog.optimizeDv(spark, dir, "mat3", 0.05) === 0, "idempotent")
    TxLog.destroy(dir)
  }

  test("cloneShallow forks zero-copy; mutations never cross the fork") {
    val (dir, paths) = dvTable()
    TxLog.deleteWhereDV(spark, dir, "dvsrc", col("x") === 4)
    val dst = freshDir()
    assert(TxLog.cloneShallow(dir, dst) === 1)
    // the clone serves the source snapshot, mask included, via the
    // source's files — nothing was copied under the clone's root
    assert(TxLog.read(spark, dst).select("x").as[Long].collect().sorted.toSeq
      === (0L to 29L).filterNot(_ == 4))
    assert(!new java.io.File(s"$dst/data").exists(),
      "shallow: no data byte lands under the clone")
    // diverge the clone: DV-delete + CoW update there only
    TxLog.deleteWhereDV(spark, dst, "dvc", col("x") === 20)
    TxLog.updateWhere(spark, dst, "uc", col("x") === 0,
      Seq("y" -> lit(777L)))
    assert(TxLog.read(spark, dst).select("x").as[Long].collect().sorted.toSeq
      === (0L to 29L).filterNot(x => x == 4 || x == 20))
    assert(TxLog.read(spark, dst).filter(col("y") === 777).count() === 1)
    // the source saw none of it
    assert(TxLog.read(spark, dir).select("x").as[Long].collect().sorted.toSeq
      === (0L to 29L).filterNot(_ == 4))
    assert(TxLog.read(spark, dir).filter(col("y") === 777).count() === 0)
    assert(TxLog.snapshot(dir).dvs.size === 1, "source bindings untouched")
    // a clone vacuum sweeps only the clone's own data dir — the
    // referenced source files are out of its jurisdiction by layout
    TxLog.checkpoint(dst)
    TxLog.expireManifests(dst)
    val swept = TxLog.vacuum(dst)
    assert(swept.forall(_.startsWith(dst)),
      "clone vacuum must never name a source path")
    assert(TxLog.read(spark, dir).count() === 29, "source intact after it")
    // refuse to clone over an existing table
    val ex = intercept[IllegalArgumentException] {
      TxLog.cloneShallow(dir, dst)
    }
    assert(ex.getMessage.contains("already has a log"))
    TxLog.destroy(dst)
    TxLog.destroy(dir)
  }

  test("deletion vectors compose with partitioned ingest and bloom pruning") {
    val dir = freshDir()
    val df = (0L until 40L).map(i =>
      (i, if (i % 2 == 0) "even" else "odd")).toDF("x", "kind")
    TxLog.commitPartitioned(spark, dir, "p0", df.filter(col("x") < 20),
      "kind")
    TxLog.commitPartitioned(spark, dir, "p1", df.filter(col("x") >= 20),
      "kind")
    val before = TxLog.liveFiles(dir)
    // mask three even rows: the touched batch dirs are PARTITION LEAVES
    TxLog.deleteWhereDV(spark, dir, "dvp", col("x").isin(2L, 4L, 22L))
    assert(TxLog.liveFiles(dir) === before, "no leaf rewrites")
    assert(TxLog.snapshot(dir).dvs.size === 2,
      "one binding per touched even-leaf (both batches)")
    // the point probe still prunes to the even leaves AND applies masks
    val probe = TxLog.readPrunedByKey(spark, dir, "kind", "even").get
    assert(probe.select("x").as[Long].collect().sorted.toSeq ===
      (0L until 40L).filter(x => x % 2 == 0 && x != 2 && x != 4 && x != 22))
    assert(TxLog.read(spark, dir).count() === 37)
    TxLog.destroy(dir)
  }

  test("mask regimes agree: native DvMaskHit filter == anti-join fallback") {
    val (dir, _) = dvTable()
    TxLog.deleteWhereDV(spark, dir, "dvr1", col("x") % 3 === 1)
    TxLog.deleteWhereDV(spark, dir, "dvr2", col("x") === 28)
    def snap() = TxLog.read(spark, dir)
      .select("x").as[Long].collect().sorted.toSeq
    val viaExpr = snap()                       // default: broadcast regime
    spark.conf.set("spark.graft.dvBroadcastBytes", "0")
    val viaJoin = try snap()                   // forced: anti-join regime
    finally spark.conf.unset("spark.graft.dvBroadcastBytes")
    val expect = (0L to 29L).filterNot(x => x % 3 == 1 || x == 28)
    assert(viaExpr === expect)
    assert(viaJoin === expect, "both regimes must mask identically")
    TxLog.destroy(dir)
  }

  test("masked read plan: the native regime is scan+filter, zero joins/exchanges") {
    val (dir, _) = dvTable()
    TxLog.deleteWhereDV(spark, dir, "dvplan", col("x") === 9)
    val plan = TxLog.read(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("dv_mask_hit"),
      "small vectors must route through the DvMaskHit predicate")
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"the mask must not add a join or shuffle to the scan:\n$plan")
    TxLog.destroy(dir)
  }

  /** The twin-path contract: scanEntries == snapshot, exactly. */
  private def entriesViaDriver(dir: String)
      : Set[(String, Option[String], Option[String])] = {
    val dvs = TxLog.snapshot(dir).dvs
    TxLog.snapshot(dir).entries
      .map { case (p, st) => (p, st, dvs.get(p)) }.toSet
  }

  test("checkpoint twin: distributed resolution equals the driver replay") {
    val dir = freshDir()
    spark.sparkContext.hadoopConfiguration
      .setInt("graft.txlog.twinMinEntries", 0) // force the twin at toy size
    // log-only entries with stats — the probe shape; no twin yet
    TxLog.commitWithStats(dir, (0 until 6).map(i =>
      s"$dir/data/b$i" -> Some(s"v;${i * 10}.0;${i * 10 + 9}.0")))
    assert(TxLog.scanEntriesCollected(spark, dir).isEmpty,
      "no checkpoint -> no twin fast path")
    TxLog.checkpoint(dir)
    val atCp = TxLog.scanEntriesCollected(spark, dir)
    assert(atCp.isDefined, "a checkpointed table must expose the twin path")
    assert(atCp.get.toSet === entriesViaDriver(dir))
    // post-checkpoint delta: add, replace-add (stats change), remove,
    // dv bind, dv rebind, dv clear — every override branch
    TxLog.commitWithStats(dir,
      Seq(s"$dir/data/b9" -> Some("v;90.0;99.0"),
          s"$dir/data/b1" -> Some("v;500.0;509.0")), // re-add: new stats
      remove = Seq(s"$dir/data/b2"))
    TxLog.commitWithStats(dir, Nil,
      dvSets = Seq(s"$dir/data/b3" -> Some(s"$dir/dv/m3"),
                   s"$dir/data/b4" -> Some(s"$dir/dv/m4")))
    TxLog.commitWithStats(dir, Nil,
      dvSets = Seq(s"$dir/data/b3" -> Some(s"$dir/dv/m3b"), // rebind
                   s"$dir/data/b4" -> None))                // clear
    val afterDelta = TxLog.scanEntriesCollected(spark, dir)
    assert(afterDelta.isDefined)
    assert(afterDelta.get.toSet === entriesViaDriver(dir),
      "twin + delta must replay to exactly the driver state")
    // asOf resolution through the twin pins the intermediate version
    val vMid = 2 // checkpoint at 1, first delta commit at 2
    assert(TxLog.scanEntriesCollected(spark, dir, asOf = vMid).get.toSet ===
      TxLog.snapshot(dir, asOf = vMid).entries.map { case (p, st) =>
        (p, st, TxLog.snapshot(dir, asOf = vMid).dvs.get(p)) }.toSet)
    // a SECOND checkpoint folds the delta in; twin follows
    TxLog.checkpoint(dir)
    TxLog.expireManifests(dir)
    assert(TxLog.scanEntriesCollected(spark, dir).get.toSet ===
      entriesViaDriver(dir))
    spark.sparkContext.hadoopConfiguration
      .unset("graft.txlog.twinMinEntries")
    TxLog.destroy(dir)
  }

  test("readPruned takes the twin path and still prunes exactly") {
    val dir = freshDir()
    spark.sparkContext.hadoopConfiguration
      .setInt("graft.txlog.twinMinEntries", 0) // force the twin at toy size
    (0 until 4).foreach { i =>
      val p = TxLog.writeBatch(
        Seq(i * 10, i * 10 + 9).toDF("x"), dir, s"band$i")
      TxLog.commitWithStats(dir,
        Seq(p -> Some(s"x;${i * 10}.0;${i * 10 + 9}.0")))
    }
    val before = TxLog.readPruned(spark, dir, "x", 20.0, 25.0)
    assert(before.isDefined &&
      before.get.as[Int].collect().sorted.toSeq === Seq(20, 29))
    TxLog.checkpoint(dir)
    assert(TxLog.scanEntriesCollected(spark, dir).isDefined)
    // the twin-backed pruned read must keep exactly the one band file
    val after = TxLog.readPruned(spark, dir, "x", 20.0, 25.0)
    assert(after.isDefined &&
      after.get.as[Int].collect().sorted.toSeq === Seq(20, 29))
    assert(after.get.inputFiles
      .map(f => new java.io.File(f).getParentFile.getName)
      .distinct.length === 1,
      "the distributed survivor selection must keep exactly 1 band dir")
    // fully-disjoint window prunes to None on both paths
    assert(TxLog.readPruned(spark, dir, "x", 500.0, 600.0).isEmpty)
    // a DV delete after the checkpoint still masks through the twin path
    TxLog.deleteWhereDV(spark, dir, "tw", col("x") === 20)
    val masked = TxLog.readPruned(spark, dir, "x", 20.0, 25.0)
    assert(masked.isDefined &&
      masked.get.as[Int].collect().sorted.toSeq === Seq(29))
    spark.sparkContext.hadoopConfiguration
      .unset("graft.txlog.twinMinEntries")
    // below the default threshold no twin lands: the driver path serves
    val d2 = freshDir()
    TxLog.commit(d2, Seq(TxLog.writeBatch(Seq(1).toDF("x"), d2, "a")))
    TxLog.checkpoint(d2)
    assert(TxLog.scanEntriesCollected(spark, d2).isEmpty,
      "a toy table must not pay a per-checkpoint twin Spark job")
    TxLog.destroy(d2)
    TxLog.destroy(dir)
  }

  /** Runs `body` with the claim store `store` installed. */
  private def withClaim[T](store: Class[_ <: TxLog.ClaimStore])(
      body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("graft.txlog.claim", store.getName)
    try body finally hc.set("graft.txlog.claim", "scheme")
  }

  /** Runs `verb` with [[LosingClaim]] armed to lose the next `k` claims;
    * returns the verb's version and the claims it made. */
  private def losing(k: Int)(verb: => Int): (Int, Int) = {
    LosingClaim.arm(k)
    withClaim(classOf[LosingClaim]) { val v = verb; (v, LosingClaim.claims.get) }
  }

  test("every commit verb retries through two lost claims and lands") {
    val dir = freshDir()
    def ids(d: String = dir): Seq[Long] =
      TxLog.read(spark, d).select("id").as[Long].collect().sorted.toSeq
    // each verb loses two claims, then wins the next version on its
    // third: 2 lost races + 1 win = 3 claims, content intact
    def lands(expected: Int)(verb: => Int): Unit =
      assert(losing(2)(verb) === ((expected, 3)))
    val first = TxLog.writeBatch(
      Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"), dir, "b0")
    lands(1)(TxLog.commitWithRetry(dir, Seq(first)))
    assert(ids() === Seq(1L, 2L))
    lands(2)(TxLog.appendMapped(spark, dir,
      Seq((3L, 3.0)).toDF("id", "v"), "b1"))
    assert(ids() === Seq(1L, 2L, 3L))
    lands(3)(TxLog.addConstraint(spark, dir, "pos", "id > 0"))
    assert(TxLog.snapshot(dir).checks === Seq("pos" -> "id > 0"))
    lands(4)(TxLog.overwriteAll(spark, dir,
      Seq((4L, 4.0), (5L, 5.0)).toDF("id", "v"), "ow"))
    assert(ids() === Seq(4L, 5L))
    lands(5)(TxLog.analyze(spark, dir, Seq("v")))
    assert(TxLog.snapshot(dir).entries.flatMap(_._2).exists(_.contains("v;4.0;5.0")))
    val live = TxLog.liveFiles(dir)
    val compacted = TxLog.writeBatch(
      TxLog.read(spark, dir).coalesce(1), dir, "compact")
    lands(6)(TxLog.commitRewrite(dir, Seq(compacted -> None), live))
    assert(TxLog.liveFiles(dir) === Seq(compacted))
    assert(ids() === Seq(4L, 5L))
    lands(7)(TxLog.addColumn(spark, dir, "note", "STRING"))
    lands(8)(TxLog.renameColumn(spark, dir, "v", "score"))
    assert(TxLog.read(spark, dir).columns.toSeq === Seq("id", "score", "note"))
    lands(9)(TxLog.appendMapped(spark, dir,
      Seq((6L, 6.0, "n")).toDF("id", "score", "note"), "b2"))
    assert(TxLog.read(spark, dir).orderBy("id")
      .as[(Long, Double, Option[String])].collect().toSeq ===
      Seq((4L, 4.0, None), (5L, 5.0, None), (6L, 6.0, Some("n"))))
    lands(10)(TxLog.truncate(dir))
    assert(TxLog.liveFiles(dir).isEmpty)
    assert(TxLog.snapshot(dir).colMap.isEmpty)
    TxLog.destroy(dir)

    val pdir = freshDir()
    lands(1)(TxLog.setPartitionSpec(pdir, Seq("part")))
    assert(TxLog.partitionSpec(pdir) === Some(Seq("part")))
    lands(2)(TxLog.commitPartitionedCols(spark, pdir, "p0",
      Seq((1L, "a"), (2L, "b")).toDF("id", "part"), Seq("part")))
    assert(ids(pdir) === Seq(1L, 2L))
    lands(3)(TxLog.overwritePartitionedCols(spark, pdir, "p1",
      Seq((3L, "c")).toDF("id", "part"), Seq("part")))
    assert(ids(pdir) === Seq(3L))
    assert(TxLog.liveFiles(pdir).size === 1)
    TxLog.destroy(pdir)
  }

  test("an exhausted retry budget fails with the uniform race error") {
    val dir = freshDir()
    val e = intercept[IllegalStateException] {
      losing(Int.MaxValue)(TxLog.commitWithRetry(dir, Seq("/data/f1"),
        maxAttempts = 3))
    }
    assert(e.getMessage.startsWith(
      s"txlog: still losing the version race after 3 attempts on $dir"))
    assert(e.getCause.isInstanceOf[TxLog.LostRace])
    assert(LosingClaim.claims.get === 3, "exactly maxAttempts claims")
    assert(TxLog.latestVersion(dir) === 0, "no manifest landed")
    TxLog.destroy(dir)
  }

  test("a non-race IllegalStateException is not retried") {
    // the message even reads like a lost race: only the LostRace type
    // may trigger a retry, never the text
    val dir = freshDir()
    ThrowingClaim.claims.set(0)
    val e = intercept[IllegalStateException] {
      withClaim(classOf[ThrowingClaim])(
        TxLog.commitWithRetry(dir, Seq("/data/f1")))
    }
    assert(!e.isInstanceOf[TxLog.LostRace])
    assert(e.getMessage === ThrowingClaim.Message)
    assert(ThrowingClaim.claims.get === 1, "one attempt, no retry")
    TxLog.destroy(dir)
  }

  test("commit renders the same manifest lines as commitWithStats without stats") {
    val dir = freshDir()
    TxLog.commit(dir, Seq("/data/a", "/data/b"), remove = Seq("/data/c"))
    TxLog.commit(dir, Nil)
    def body(v: Int): String = {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_txlog", f"v$v%08d.json")),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(text.startsWith("meta\tts\t"))
      text.substring(text.indexOf('\n') + 1) // minus the meta header
    }
    // stats-free adds render as two-field lines, removes after adds
    assert(body(1) === "add\t/data/a\nadd\t/data/b\nremove\t/data/c\n")
    assert(body(2) === "\n")
    TxLog.destroy(dir)
  }

  test("a custom claim store class is constructed once across commits") {
    val dir = freshDir()
    withClaim(classOf[CountingClaim]) {
      (1 to 3).foreach(i => TxLog.commit(dir, Seq(s"/data/f$i")))
    }
    assert(TxLog.latestVersion(dir) === 3)
    assert(CountingClaim.claims.get === 3)
    assert(CountingClaim.constructed.get === 1, "one instance serves every claim")
    TxLog.destroy(dir)
  }

  test("a layout-2 checkpoint renders every action kind in its fixed order") {
    val dir = freshDir()
    TxLog.commitWithStats(dir,
      Seq("/data/a" -> Some("x;1.0;2.0"), "/data/b" -> None),
      colMap = Some(Seq("c0" -> "x", "c1" -> "y z")),
      colTypes = Seq("c1" -> Some("STRING")),
      checkSets = Seq("pos" -> Some("x > 0")),
      txn = Some("app" -> 7L),
      partSpecSet = Some(Seq("p", "bucket(4,x)")))
    TxLog.commitWithStats(dir, Nil, dvSets = Seq("/data/a" -> Some("/dv/a1")))
    val v = TxLog.checkpoint(dir)
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_txlog", f"c$v%08d.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(text.startsWith("meta\tts\t"))
    assert(text.substring(text.indexOf('\n') + 1) === Seq(
      "meta\tlayout\t2",
      "meta\tpartspec\tp,bucket%284%2Cx%29",
      "colmap\tc0:x,c1:y+z",
      "coltype\tc1\tSTRING",
      "constraint\tpos\tx+%3E+0",
      "meta\ttxn\tapp\t7",
      "add\t/data/a\tx;1.0;2.0",
      "add\t/data/b",
      "dv\t/data/a\t/dv/a1").mkString("", "\n", "\n"))
    TxLog.destroy(dir)
  }

  test("merge, optimize and DESCRIBE DETAIL replay the log once per commit attempt") {
    import CountingObjectStoreFileSystem.logOpensOf
    CountingObjectStoreFileSystem.register(spark)
    val dir = CountingObjectStoreFileSystem.uri(freshDir())
    (1 to 3).foreach { i =>
      TxLog.commit(dir, Seq(TxLog.writeBatch(
        Seq((i.toLong, i * 1.0)).toDF("k", "v"), dir, s"b$i")))
    }
    // one replay at version V opens the V manifests
    assert(logOpensOf(TxLog.snapshot(dir)) === 3)
    // the verb's snapshot, then the commit attempt's conflict check
    assert(logOpensOf(TxLog.merge(spark, dir, "m",
      Seq((2L, 20.0), (9L, 9.0)).toDF("k", "v"), Seq("k"))) === 2 * 3)
    assert(TxLog.latestVersion(dir) === 4)
    assert(logOpensOf(TxLog.optimize(spark, dir, "o")) === 2 * 4)
    // DESCRIBE HISTORY opens each of the 5 manifests once
    assert(logOpensOf(TxLog.history(spark, dir)) === 5)
    assert(TxLog.read(spark, dir).as[(Long, Double)].collect().sorted.toSeq ===
      Seq((1L, 1.0), (2L, 20.0), (3L, 3.0), (9L, 9.0)))
    val wh = java.nio.file.Files.createTempDirectory("txlog-cat").toString
    spark.conf.set("spark.sql.catalog.txcount",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.txcount.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS txcount.ns")
    spark.sql(s"CREATE TABLE txcount.ns.t USING graft LOCATION '$dir'")
    try {
      // the first DESCRIBE memoizes the table load's partition-spec walk
      spark.sql("DESCRIBE DETAIL txcount.ns.t").collect()
      var row: org.apache.spark.sql.Row = null
      assert(logOpensOf {
        row = spark.sql("DESCRIBE DETAIL txcount.ns.t").head()
      } === 5, "one replay of v1..v5")
      assert(row.getAs[Int]("version") === 5 && row.getAs[Int]("n_files") === 1)
    } finally spark.sql("DROP TABLE txcount.ns.t")
    TxLog.destroy(dir)
  }

  test("the partspec and txn walks agree with the full replay at every resolvable version") {
    val dir = freshDir()
    val apps = Seq("app", "other", "never")
    def agreeAtLatest(): Unit = {
      val s = TxLog.snapshot(dir)
      assert(TxLog.partitionSpec(dir) === s.partSpec, s"v${s.version}")
      apps.foreach(a =>
        assert(TxLog.txnVersion(dir, a) === s.txns.get(a), s"$a @ v${s.version}"))
    }
    def f(i: Int) = s"$dir/data/f$i"
    agreeAtLatest() // the empty table
    Seq[() => Int](
      () => TxLog.commitWithStats(dir,
        Seq(f(1) -> Some("x;1.0;2.0"), f(2) -> None),
        partSpecSet = Some(Seq("p1"))),
      () => TxLog.commitWithStats(dir, Seq(f(3) -> Some("x;5.0;6.0")),
        remove = Seq(f(1)), txn = Some("app" -> 5L)),
      () => TxLog.commitWithStats(dir, Nil,
        dvSets = Seq(f(2) -> Some(s"$dir/dv/d1")),
        colMap = Some(Seq("x" -> "x", "y" -> "y"))),
      () => TxLog.commitWithStats(dir, Nil,
        colTypes = Seq("z" -> Some("int")),
        checkSets = Seq("pos" -> Some("x > 0"))),
      () => TxLog.commitWithStats(dir, Nil, txn = Some("app" -> 7L)),
      () => TxLog.commitWithStats(dir, Nil, txn = Some("other" -> 1L),
        partSpecSet = Some(Seq("p2", "bucket(4,x)"))),
      () => TxLog.checkpoint(dir),
      () => TxLog.commitWithStats(dir, Nil,
        dvSets = Seq(f(2) -> None), txn = Some("other" -> 2L)),
      () => TxLog.commitWithStats(dir, Seq(f(5) -> None),
        partSpecSet = Some(Nil)),
      () => TxLog.expireManifests(dir),
      () => TxLog.restore(dir, 7),
      () => TxLog.checkpoint(dir),
      () => TxLog.commitWithStats(dir, Seq(f(4) -> None),
        txn = Some("app" -> 9L)),
      () => TxLog.restore(dir, 6),
      () => TxLog.commitWithStats(dir, Nil, partSpecSet = Some(Seq("p3")))
    ).foreach { step => step(); agreeAtLatest() }
    val resolvable = new java.io.File(dir, "_txlog").list().toSeq
      .collect { case n if n.matches("[vc]\\d{8}\\.json") =>
        n.substring(1, 9).toInt }
      .distinct.sorted
    assert(resolvable === (6 to 12), "v1..v5 expired behind c6")
    resolvable.foreach { v =>
      assert(TxLog.partitionSpec(dir, v) === TxLog.snapshot(dir, v).partSpec,
        s"v$v")
    }
    assert(TxLog.snapshot(dir).txns ===
      Map("app" -> 9L, "other" -> 2L), "marks survive restore")
    TxLog.destroy(dir)
    // a pre-layout-2 checkpoint carries its marks AFTER the adds: the
    // walk streams the whole file there
    val old = freshDir()
    val ld = java.nio.file.Paths.get(old, "_txlog")
    java.nio.file.Files.createDirectories(ld)
    java.nio.file.Files.write(ld.resolve("c00000001.json"), Seq(
      "meta\tts\t1", "add\t/data/a", "meta\ttxn\tapp\t3",
      "meta\tpartspec\tp").mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val s = TxLog.snapshot(old)
    assert(s.files === Seq("/data/a"))
    assert(TxLog.txnVersion(old, "app") === Some(3L) &&
      s.txns.get("app") === Some(3L))
    assert(TxLog.partitionSpec(old) === Some(Seq("p")) &&
      s.partSpec === Some(Seq("p")))
    TxLog.destroy(old)
  }
}

/** [[TxLog.ClaimStore]] that loses the next armed number of claims —
  * consuming the tmp manifest, as a real lost claim does — then
  * delegates to [[TxLog.SchemeClaim]]. Installed through
  * `graft.txlog.claim`; the state lives in the companion so a test can
  * arm and read it. */
final class LosingClaim extends TxLog.ClaimStore {
  def claim(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      target: org.apache.hadoop.fs.Path): Boolean = {
    LosingClaim.claims.incrementAndGet()
    if (LosingClaim.toLose.getAndDecrement() > 0) {
      fs.delete(tmp, false)
      false
    } else TxLog.SchemeClaim.claim(fs, tmp, target)
  }
}

object LosingClaim {
  val claims = new java.util.concurrent.atomic.AtomicInteger
  val toLose = new java.util.concurrent.atomic.AtomicInteger
  def arm(k: Int): Unit = { claims.set(0); toLose.set(k) }
}

/** [[TxLog.ClaimStore]] whose claim fails with a plain
  * `IllegalStateException` — a non-race failure inside a commit. */
final class ThrowingClaim extends TxLog.ClaimStore {
  def claim(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      target: org.apache.hadoop.fs.Path): Boolean = {
    ThrowingClaim.claims.incrementAndGet()
    fs.delete(tmp, false)
    throw new IllegalStateException(ThrowingClaim.Message)
  }
}

object ThrowingClaim {
  val Message = "txlog: lost the race (simulated store fault)"
  val claims = new java.util.concurrent.atomic.AtomicInteger
}

/** [[TxLog.ClaimStore]] that counts its constructions and claims, then
  * delegates to [[TxLog.SchemeClaim]]. */
final class CountingClaim extends TxLog.ClaimStore {
  CountingClaim.constructed.incrementAndGet()
  def claim(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      target: org.apache.hadoop.fs.Path): Boolean = {
    CountingClaim.claims.incrementAndGet()
    TxLog.SchemeClaim.claim(fs, tmp, target)
  }
}

object CountingClaim {
  val constructed = new java.util.concurrent.atomic.AtomicInteger
  val claims = new java.util.concurrent.atomic.AtomicInteger
}
