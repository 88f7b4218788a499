package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Round-7 operators: BFS hop distances, deterministic random walks,
  * t-closeness audit, DP noisy-count release — hand-checkable fixtures. */
class RoundSevenOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("bfsHops: path-graph distances from one seed, capped at maxHops") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val out = GraphOps.bfsHops(edges, seeds, maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("bfsHops: multi-source minimum over seeds; edges are undirected") {
    // directed input 1->2->3->4->5, but hops must flow both ways
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(1L, 5L).toDF("node")
    val out = GraphOps.bfsHops(edges, seeds, maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L))
  }

  test("bfsHops: frontier drains before maxHops and the loop exits") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val out = GraphOps.bfsHops(edges, Seq(1L).toDF("node"), maxHops = 10)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 0L, 2L -> 1L))
  }

  test("randomWalks: forced moves are taken; the walk is reproducible") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val run1 = GraphOps.randomWalks(edges, seeds, steps = 2)
      .as[(Long, Int, Long)].collect().sortBy(r => (r._1, r._2))
    val run2 = GraphOps.randomWalks(edges, seeds, steps = 2)
      .as[(Long, Int, Long)].collect().sortBy(r => (r._1, r._2))
    assert(run1.toSeq === run2.toSeq, "walk must be a pure function of the graph")
    assert(run1.length === 3)
    assert(run1(0) === ((1L, 0, 1L)))
    assert(run1(1) === ((1L, 1, 2L)), "node 1's only neighbor is 2")
    assert(Set(1L, 3L).contains(run1(2)._3), "from 2 the walk moves to a neighbor")
  }

  test("randomWalks: every step lands on a neighbor of the previous node") {
    val edges = (1L to 20L).flatMap(i => Seq((i, i % 20 + 1), (i, (i + 4) % 20 + 1)))
      .toDF("src", "dst")
    val adj = edges.as[(Long, Long)].collect()
      .flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val walks = GraphOps.randomWalks(edges, Seq(3L, 7L, 11L).toDF("node"), steps = 4)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (k, vs) => k -> vs.sortBy(_._2).map(_._3).toSeq }
    assert(walks.keySet === Set(3L, 7L, 11L))
    walks.values.foreach { path =>
      assert(path.length === 5)
      path.sliding(2).foreach { w =>
        assert(adj(w.head).contains(w(1)), s"${w(1)} not a neighbor of ${w.head} in $path")
      }
    }
  }

  test("randomWalks: isolated seed contributes only its step-0 row") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val out = GraphOps.randomWalks(edges, Seq(1L, 99L).toDF("node"), steps = 3)
      .as[(Long, Int, Long)].collect().groupBy(_._1)
    assert(out(99L).toSeq === Seq((99L, 0, 99L)))
    assert(out(1L).length === 4, "connected seed walks all steps")
  }

  test("tCloseness: skewed class distance from the corpus, exact e6 quantization") {
    // global lang mix is (x: .5, y: .5); each class is 75/25 skewed, so the
    // one-sided TVD is exactly 0.25 for both
    val df = (Seq.fill(3)(("A", "x")) ++ Seq(("A", "y")) ++
      Seq(("B", "x")) ++ Seq.fill(3)(("B", "y"))).toDF("g", "s")
    val out = QualityOps.tCloseness(df, Seq(col("g")), col("s"), t = 0.2)
      .as[(String, Long, Long, Boolean)].collect().toSet
    assert(out === Set(("A", 4L, 250000L, true), ("B", 4L, 250000L, true)))
    val loose = QualityOps.tCloseness(df, Seq(col("g")), col("s"), t = 0.3)
      .as[(String, Long, Long, Boolean)].collect().toSet
    assert(loose === Set(("A", 4L, 250000L, false), ("B", 4L, 250000L, false)))
  }

  test("Har archive: every entry random-accesses back byte-identical; unknown name is None") {
    val base = TestSpark.tmpDir("graft_har_spec").toString
    val src = s"$base/src"
    val arch = s"$base/arc"
    val payloads = Map(
      "a.txt" -> "alpha content",
      "b.txt" -> "",
      "c.bin" -> "é中 bytes")
    new java.io.File(src).mkdirs()
    payloads.foreach { case (n, t) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$src/$n"),
        t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val n = graft.sources.Har.archive(spark, src, arch, blobs = 2)
    assert(n === 3L)
    payloads.foreach { case (name, text) =>
      val got = graft.sources.Har.readEntry(spark, arch, name)
      assert(got.map(new String(_, java.nio.charset.StandardCharsets.UTF_8))
        === Some(text), s"round-trip failed for $name")
    }
    assert(graft.sources.Har.readEntry(spark, arch, "missing.txt").isEmpty)
    // bulk probe agrees with the single-entry path and drops unknown names
    val bulk = graft.sources.Har.readEntries(spark, arch,
      payloads.keys.toSeq :+ "missing.txt")
    assert(bulk.keySet === payloads.keySet)
    assert(bulk.map { case (k, v) =>
      k -> new String(v, java.nio.charset.StandardCharsets.UTF_8) } === payloads)
    // the archive really packed: at most `blobs` blob files + the index
    val blobFiles = new java.io.File(arch).listFiles()
      .filter(_.getName.startsWith("blob-"))
    assert(blobFiles.length <= 2 && blobFiles.nonEmpty)
  }

  test("dpNoisyCounts: deterministic n-free release; threshold suppresses rare keys") {
    val df = (Seq.fill(100)("big") ++ Seq("rare")).toDF("lang")
    val rel = QualityOps.dpNoisyCounts(df, col("lang"), epsilon = 10.0,
      seed = "spec", threshold = 50.0)
    assert(rel.columns.toSeq === Seq("k", "noisy_e6"),
      "release must not carry the exact count")
    val rows = rel.as[(String, Long)].collect().toMap
    assert(rows.keySet === Set("big"), s"rare key must be suppressed: $rows")
    // Laplace(1/10) noise is bounded by ln(2^-32)/10 ≈ 2.22 at the hash's
    // extreme u, so the release stays within 3 of the true count
    assert(math.abs(rows("big") - 100L * 1000000L) < 3000000L)
    val again = QualityOps.dpNoisyCounts(df, col("lang"), epsilon = 10.0,
      seed = "spec", threshold = 50.0).as[(String, Long)].collect().toMap
    assert(again === rows, "same seed must reproduce the same release")
    val otherSeed = QualityOps.dpNoisyCounts(df, col("lang"), epsilon = 10.0,
      seed = "spec2", threshold = 50.0).as[(String, Long)].collect().toMap
    assert(otherSeed("big") !== rows("big"), "rotating the seed rotates the noise")
  }

  test("ohlcResample: first/last tie-broken by id; bars bucket correctly") {
    // bucket size 10: rows at t=1,5,9 -> bucket 0; t=11,11 (tie) -> bucket 1
    val ticks = Seq(
      (1L, 1L, 10.0), (5L, 2L, 30.0), (9L, 3L, 20.0),
      (11L, 5L, 7.0), (11L, 4L, 9.0) // same ts: id 4 opens, id 5 closes
    ).map { case (t, id, v) => ("k", t, id, v) }.toDF("g", "t", "id", "v")
    val bars = AnalyticsOps.ohlcResample(ticks, Seq(col("g")), col("t"),
      col("id"), col("v"), bucketUs = 10L)
      .as[(String, Long, Double, Double, Double, Double, Long, Double)]
      .collect().map(r => r._2 -> r).toMap
    assert(bars(0L) === (("k", 0L, 10.0, 30.0, 10.0, 20.0, 3L, 60.0)))
    assert(bars(1L) === (("k", 1L, 9.0, 9.0, 7.0, 7.0, 2L, 16.0)),
      "timestamp ties must resolve by id: 4 opens, 5 closes")
  }

  test("hllState/hllMerge: union of batch sketches is the one-pass sketch") {
    val a = (1 to 600).map(i => ("g" + i % 2, "u" + i % 57)).toDF("g", "v")
    val b = (1 to 400).map(i => ("g" + i % 2, "u" + (i % 91 + 30))).toDF("g", "v")
    val merged = AggOps.hllEstimate(AggOps.hllMerge(Seq(
      AggOps.hllState(a, Seq(col("g")), col("v")),
      AggOps.hllState(b, Seq(col("g")), col("v")))))
      .as[(String, Long)].collect().toMap
    val onePass = AggOps.hllEstimate(
      AggOps.hllState(a.unionAll(b), Seq(col("g")), col("v")))
      .as[(String, Long)].collect().toMap
    assert(merged === onePass, "merge must be transparent")
    val exact = a.unionAll(b).select("g", "v").distinct()
      .groupBy("g").count().as[(String, Long)].collect().toMap
    merged.foreach { case (g, est) =>
      assert(math.abs(est - exact(g)).toDouble / exact(g) <= 0.05,
        s"estimate off for $g: est=$est exact=${exact(g)}")
    }
  }

  test("bucketChecksums: identical tables match; any change surfaces its bucket") {
    val a = (1L to 100L).map(i => (i, s"v$i", if (i % 7 == 0) null else "z"))
      .toDF("id", "v", "w")
    val keys = Seq(col("id")); val vals = Seq(col("v"), col("w"))
    val ca = QualityOps.bucketChecksums(a, keys, vals, buckets = 8)
    assert(ca.count() <= 8)
    assert(QualityOps.checksumDiff(ca,
      QualityOps.bucketChecksums(a.orderBy(rand(7)).repartition(3), keys, vals, 8))
      .count() === 0, "digest must be order/partitioning independent")
    // value change
    val changed = a.withColumn("v",
      when(col("id") === 42, lit("TAMPERED")).otherwise(col("v")))
    val d1 = QualityOps.checksumDiff(ca,
      QualityOps.bucketChecksums(changed, keys, vals, 8)).collect()
    assert(d1.length === 1, s"exactly one bucket must differ: ${d1.toSeq}")
    // row deleted: n catches it even if xor were blind
    val dropped = a.filter(col("id") =!= 99)
    val d2 = QualityOps.checksumDiff(ca,
      QualityOps.bucketChecksums(dropped, keys, vals, 8)).collect()
    assert(d2.length === 1)
    assert(d2(0).getAs[Long]("n_a") === d2(0).getAs[Long]("n_b") + 1)
    // null is a value, not an absence: nulling w must change the digest
    val nulled = a.withColumn("w",
      when(col("id") === 10, lit(null: String)).otherwise(col("w")))
    assert(QualityOps.checksumDiff(ca,
      QualityOps.bucketChecksums(nulled, keys, vals, 8)).count() === 1)
  }

  test("linearTrend: exact line recovered; degenerate groups report null") {
    val pts = Seq(
      // group "up": y = 2x + 1 exactly -> slope 2, intercept 1, r2 1
      ("up", 0.0, 1.0), ("up", 1.0, 3.0), ("up", 2.0, 5.0), ("up", 3.0, 7.0),
      // group "flatx": zero x-variance -> undefined
      ("flatx", 4.0, 1.0), ("flatx", 4.0, 9.0),
      // group "one": single point -> undefined
      ("one", 1.0, 1.0)).toDF("k", "x", "y")
    val out = AnalyticsOps.linearTrend(pts, Seq(col("k")), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("up").getDouble(2) === 2.0)
    assert(out("up").getDouble(3) === 1.0)
    assert(out("up").getDouble(4) === 1.0)
    assert(out("flatx").isNullAt(2) && out("flatx").isNullAt(4))
    assert(out("one").isNullAt(2))
  }

  test("partialStats/mergeStats: merge of batch states equals direct aggregate") {
    val a = Seq(("x", 1.5), ("x", 2.5), ("y", 10.0)).toDF("k", "v")
    val b = Seq(("x", -4.0), ("z", 7.0)).toDF("k", "v")
    val merged = AggOps.finalizeStats(AggOps.mergeStats(Seq(
      AggOps.partialStats(a, Seq(col("k")), col("v")),
      AggOps.partialStats(b, Seq(col("k")), col("v")))))
    val direct = AggOps.finalizeStats(
      AggOps.partialStats(a.unionAll(b), Seq(col("k")), col("v")))
    val m = merged.as[(String, Long, Double, Double, Double, Double)]
      .collect().sortBy(_._1).toSeq
    val d = direct.as[(String, Long, Double, Double, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(m === d, "merge must be exactly the direct aggregate")
    assert(m.find(_._1 == "x").get === (("x", 3L, 0.0, -4.0, 2.5, 0.0)))
    // merge order must not matter (associativity/commutativity)
    val swapped = AggOps.finalizeStats(AggOps.mergeStats(Seq(
      AggOps.partialStats(b, Seq(col("k")), col("v")),
      AggOps.partialStats(a, Seq(col("k")), col("v")))))
      .as[(String, Long, Double, Double, Double, Double)].collect().sortBy(_._1).toSeq
    assert(swapped === m)
  }

  test("statsDeltaSigned: signed refresh equals recompute; zero-net keys leave") {
    val base = Seq(("x", 1.5), ("x", 2.5), ("y", 10.0), ("z", 3.0))
      .toDF("k", "v")
    // deletes: both y and z retract fully (z's only row; y's only row);
    // inserts: new x row and a fresh key w — y and z must VANISH
    val delta = Seq(("x", 4.0, 1), ("w", 7.0, 1), ("y", 10.0, -1),
      ("z", 3.0, -1)).toDF("k", "v", "sign")
    val refreshed = AggOps.statsDeltaSigned(
      AggOps.partialStats(base, Seq(col("k")), col("v")),
      delta, Seq(col("k")), col("v"), col("sign"))
      .select(col("k"), col("cnt"), col("sum_dec").cast("double").as("s"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    val newBase = Seq(("x", 1.5), ("x", 2.5), ("x", 4.0), ("w", 7.0))
      .toDF("k", "v")
    val direct = AggOps.partialStats(newBase, Seq(col("k")), col("v"))
      .select(col("k"), col("cnt"), col("sum_dec").cast("double").as("s"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(refreshed === direct,
      "incremental refresh must equal the from-scratch state")
    assert(!refreshed.exists(r => r._1 == "y" || r._1 == "z"),
      "fully-retracted keys leave the view")
    // null values: count contribution 0, sum untouched
    val nullDelta = Seq(("x", Option.empty[Double], 1))
      .toDF("k", "v", "sign")
    val withNull = AggOps.statsDeltaSigned(
      AggOps.partialStats(base, Seq(col("k")), col("v")),
      nullDelta, Seq(col("k")), col("v"), col("sign"))
      .filter(col("k") === "x")
      .select(col("cnt"), col("sum_dec").cast("double"))
      .as[(Long, Double)].head()
    assert(withNull === ((2L, 4.0)))
    // a key column named like reserved state would silently be treated
    // as state and dropped from the keys — must fail loudly instead
    val badDelta = Seq(("x", 1.0, 1)).toDF("cnt", "v", "sign")
    val err = intercept[IllegalArgumentException] {
      AggOps.statsDeltaSigned(
        AggOps.partialStats(base, Seq(col("k")), col("v")),
        badDelta, Seq(col("cnt")), col("v"), col("sign"))
    }
    assert(err.getMessage.contains("reserved state names"))
  }

  test("pseudonymize: deterministic, column-salted, null-preserving, re-keyable") {
    val df = Seq((1L, "alice", "alice"), (2L, "bob", null), (3L, "alice", "carol"))
      .toDF("id", "name", "referrer")
    val out = QualityOps.pseudonymize(df, Seq("name", "referrer"), "s1")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(out(0)._2 === out(2)._2, "same value, same column -> same token")
    assert(out(0)._2 !== out(0)._3,
      "same value in different columns must get unlinkable tokens")
    assert(out(1)._3 === null, "null stays null")
    assert(out.forall(r => r._2 == null || r._2.length == 16))
    assert(out.forall(_._1 > 0), "unlisted columns pass through untouched")
    val rekeyed = QualityOps.pseudonymize(df, Seq("name", "referrer"), "s2")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(rekeyed(0)._2 !== out(0)._2, "rotating the secret rotates tokens")
  }

  test("cms: estimate is an upper bound; wide sketch is exact; cells bounded") {
    val df = (Seq.fill(50)("a") ++ Seq.fill(20)("b") ++ (1 to 30).map(i => s"k$i"))
      .toDF("k")
    val keys = df.distinct()
    // narrow sketch: collisions guaranteed (32 keys into depth=1, width=8)
    val narrow = StatsOps.cmsBuild(df, col("k"), depth = 1, width = 8)
    assert(narrow.count() <= 8, "counter cells must be bounded by depth*width")
    val estN = StatsOps.cmsEstimate(narrow, keys, col("k"), 1, 8)
      .as[(String, Long)].collect().toMap
    val exact = df.groupBy("k").count().as[(String, Long)].collect().toMap
    exact.foreach { case (k, n) =>
      assert(estN(k) >= n, s"CMS must never undercount: $k est=${estN(k)} n=$n")
    }
    assert(exact.exists { case (k, n) => estN(k) > n },
      "32 keys in 8 cells must collide somewhere")
    // wide sketch: depth 4 x width 4096 makes all 32 keys collision-free
    val wide = StatsOps.cmsBuild(df, col("k"), depth = 4, width = 4096)
    val estW = StatsOps.cmsEstimate(wide, keys, col("k"), 4, 4096)
      .as[(String, Long)].collect().toMap
    assert(estW === exact, "wide sketch estimates must be exact here")
    // unseen key probes empty cells -> estimate 0 (or a collision overcount,
    // but with width 4096 the cells are empty)
    val unseen = StatsOps.cmsEstimate(wide, Seq("zzz").toDF("k"), col("k"),
      4, 4096).as[(String, Long)].collect().toMap
    assert(unseen("zzz") === 0L)
  }

  test("kaplanMeier: textbook curve — censoring shrinks risk set, emits no row") {
    // durations 1(event) 2(censored) 3(event) 4(event) 5(censored):
    // S(1)=4/5, S(3)=4/5*2/3, S(4)=4/5*2/3*1/2; t=2 and t=5 emit nothing
    val durs = Seq((1L, true), (2L, false), (3L, true), (4L, true),
      (5L, false)).map { case (t, e) => ("all", t, e) }.toDF("g", "t", "e")
    val out = AnalyticsOps.kaplanMeier(durs, Seq(col("g")), col("t"), col("e"))
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._2)
    assert(out.map(r => (r._2, r._3, r._4)).toSeq ===
      Seq((1L, 5L, 1L), (3L, 3L, 1L), (4L, 2L, 1L)))
    val expected = Seq(0.8, 0.8 * 2 / 3, 0.8 * 2 / 3 * 0.5)
    out.map(_._5).zip(expected).foreach { case (got, s) =>
      assert(math.abs(got - math.round(s * 1e6)) <= 2,
        s"surv_e6 $got vs ${math.round(s * 1e6)}")
    }
  }

  test("kaplanMeier: d = n drives the curve to exactly 0, no infinity") {
    val durs = Seq(("g", 1L, true), ("g", 1L, true)).toDF("g", "t", "e")
    val out = AnalyticsOps.kaplanMeier(durs, Seq(col("g")), col("t"), col("e"))
      .as[(String, Long, Long, Long, Long)].collect()
    assert(out.toSeq === Seq(("g", 1L, 2L, 2L, 0L)))
  }

  test("kaplanMeier: groups are independent curves") {
    val durs = Seq(("a", 1L, true), ("b", 1L, true), ("b", 2L, true))
      .toDF("g", "t", "e")
    val out = AnalyticsOps.kaplanMeier(durs, Seq(col("g")), col("t"), col("e"))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(out(("a", 1L)) === ((1L, 1L, 0L)))
    assert(out(("b", 1L))._1 === 2L)
    assert(math.abs(out(("b", 1L))._3 - 500000L) <= 1)
    assert(out(("b", 2L)) === ((1L, 1L, 0L)))
  }
}
