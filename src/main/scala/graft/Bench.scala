package graft

import org.apache.spark.sql.SparkSession
import graft.core.Graft

/** Benchmark main: runs every registry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...}}.
  * Extra env knobs (profiling): SPARK_GRAFT_ONLY=q1,q2 to filter,
  * SPARK_GRAFT_REPEAT=n to run each query n times (min time reported,
  * separating JVM/codegen warmup from steady-state). */
object Bench {
  /** The suite's CPU-ceiling family: gates whose repeats carry the
    * recurring JIT re-tier episode (see the warmup note in the repeat
    * loop). Membership = the graph gates whose diag shows core≈cpu at
    * 100+ core-seconds. */
  val CpuFamilyWarmup: Set[String] = Set(
    "q_triangles", "q_clustering_coeff", "q_link_prediction",
    "q_k_core", "q_graph_profile", "q_modularity")

  def main(args: Array[String]): Unit = {
    val spark = Graft.session("bench")
    // stop in finally, THEN print: the compact summary must be the last
    // stdout line of the process even when the run fails part-way — a
    // bench runner parses the tail of stdout as JSON (build.sbt strips
    // sbt's "[info] " run prefix and "[success]" footer); a failing stop
    // is logged to stderr, so it neither drops the summary nor masks a
    // failure of the run itself
    val summary = try run(spark) finally {
      try spark.stop()
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] spark.stop() failed: $e")
      }
    }
    println(summary)
  }

  /** Times every selected query; prints the full line and returns the
    * compact summary. */
  private def run(spark: SparkSession): String = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // default 3: first pass warms codegen/JIT (a 67-query session floods the
    // C2 compiler; cold first executions measure compiler queueing, not the
    // operator), min is reported; a third repeat shields the min from a GC
    // pause landing on the single warm repeat
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    // Per-repeat diagnostics (r11, VERDICT r10 item 1): the r10 driver run
    // showed q_clustering_coeff at 44.9 s in-suite vs 6.4 s solo on the
    // SAME commit — unexplainable from wall times alone. Three deltas per
    // repeat make the next such blowup attributable from the artifact:
    //   core_s  — sum of task executorRunTime (wall-clock per task: inflates
    //             under BOTH real work and involuntary descheduling)
    //   cpu_s   — CPU actually burned by THIS process (OS-level)
    //   gc_ms   — JVM collector time
    // core_s >> cpu_s ⇒ tasks sat descheduled: external machine contention,
    // not this plan. cpu_s ≈ core_s but ≫ solo ⇒ JIT-tier/GC degradation
    // inside the JVM. spill_mb > 0 ⇒ memory pressure reached the operators.
    val diagRun = new java.util.concurrent.atomic.AtomicLong // executorRunTime ms
    val diagSpill = new java.util.concurrent.atomic.AtomicLong // mem+disk spill bytes
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        diagRun.addAndGet(m.executorRunTime)
        diagSpill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        ()
      }
    })
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def cpuNs(): Long =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
        case _ => 0L
      }
    val specs = Queries.all.filter(q => only.forall(_.contains(q.name)))
    // neutral warmup: absorb one-time session costs (class loading, codegen
    // infrastructure, shuffle service init, FS listing) so the first measured
    // query isn't charged for them; touches no query-specific plan
    spark.range(1000000).selectExpr("sum(id) s", "count(*) c")
      .write.mode("overwrite").format("noop").save()
    // box_health preamble (VERDICT r14 item 6): same-code drift across bench
    // windows (1.16x r14, 1.27x floor in ATTRIBUTION_r13) is the dominant
    // noise; this fixed ~8s probe stamps the MACHINE's state into the
    // artifact so a degraded window is visible without a judge/builder
    // adjudication round-trip. Five fixed workloads, constants never scaled
    // by env, so any two artifacts' fields are directly comparable:
    //   cpu_st_s    one thread, 1.5e9 xorshift steps (pure ALU)
    //   cpu_mt_s    the SAME work per thread on `cpus` threads — on an
    //               uncontended box ≈ cpu_st_s (independent cores); excess
    //               = external machine contention / descheduling
    //   io_w_mbps / io_r_mbps   256 MiB tmp-file write+fsync / read
    //   gc_probe_ms collector time for a fixed 2 GiB small-array churn
    //   shuffle_s   a fixed spark shuffle (range→repartition→agg)
    // tools/bench_ratio.py prints the new/old ratio of each field next to
    // the total ratio, so "the box was 1.3x slower" is machine-readable.
    val boxHealth = BoxHealth.probe(spark, spark.sparkContext.defaultParallelism)
    System.err.println(s"[bench] box_health $boxHealth")
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // per query: one [core_s, cpu_s, gc_ms, spill_mb] tuple per repeat
    val diags = scala.collection.mutable.LinkedHashMap
      .empty[String, Seq[(Double, Double, Long, Long)]]
    val results = specs.map { q =>
      // fixture staging OUTSIDE the timed window (QuerySpec.stage): a
      // persisted-state gate reads its store; rebuilding the store is
      // pipeline history, not the measured operator. Sweep + gc after,
      // so staging's checkpoint blocks and garbage don't bill repeat 1.
      q.stage.foreach { f =>
        try f(spark, sfDir)
        catch {
          case e: Throwable =>
            errors(q.name) = s"stage: ${e.getClass.getSimpleName}: ${
              Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200)}"
        }
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        System.gc()
      }
      // CPU-family warmup (VERDICT r12 item 7, recording WHICH remedy):
      // the triangle family recurrently shows one JIT re-tier/GC episode
      // per suite run (r10–r12: a single repeat at 2–8× its min with ~4×
      // the gc and core≈cpu — in-JVM degradation, not a plan change). One
      // UNTIMED run of the same plan absorbs the C2 tier-up and its
      // deopt/recompile churn BEFORE the timed window; the repeats map
      // then measures the operator, not the compiler. Untimed cost ≈ one
      // extra run per family gate per suite.
      val warmed = Bench.CpuFamilyWarmup(q.name) && !errors.contains(q.name)
      if (warmed) {
        try q.run(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case _: Throwable => () } // the timed loop reports errors
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        System.gc()
      }
      val times = (1 to repeat).map { _ =>
        val run0 = diagRun.get; val spill0 = diagSpill.get
        val gc0 = gcMs(); val cpu0 = cpuNs()
        val t0 = System.nanoTime()
        // noop sink: forces evaluation of EVERY output column (count() would
        // let Catalyst prune per-row expression columns away entirely)
        try { q.run(spark, sfDir).write.mode("overwrite").format("noop").save() }
        catch {
          case e: Throwable =>
            // a crashing query must NOT be reported as a fast success:
            // record the failure and poison this repeat's time
            errors(q.name) = s"${e.getClass.getSimpleName}: ${
              Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200)}"
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // diag deltas taken right at the timing edge, BEFORE the sweep's
        // System.gc() so gc_ms reflects the query's own collector load.
        // (Stage-completion events are async; the tail of a stage can bleed
        // into the next repeat's delta — fine for attribution-grade data.)
        diags(q.name) = diags.getOrElse(q.name, Seq.empty) :+ ((
          (diagRun.get - run0) / 1000.0,
          (cpuNs() - cpu0) / 1e9,
          gcMs() - gc0,
          (diagSpill.get - spill0) / 1048576))
        // drop any checkpoint blocks the repeat left pinned (outside the
        // timed window): localCheckpoint RDDs never enter the CacheManager,
        // so without this they linger until ContextCleaner + GC — across a
        // 300-query session they accumulate and inflate later queries'
        // times 2-3× vs solo runs (r7 measurement). Safe: the result was
        // fully consumed by the noop sink above. blocking=true: a non-blocking
        // sweep lets freed-in-name blocks still occupy storage memory when the
        // NEXT repeat starts allocating — the r9 per-repeat data showed the
        // checkpoint-heavy dedup family climbing monotonically (4.4→21→33 s)
        // under exactly that overlap; the wait is outside the timed window.
        // CONDITIONAL (VERDICT r16 item 3): ~250 of the 394 gates pin
        // nothing — for those the sweep walk and the forced FULL collection
        // were pure per-repeat overhead (~1200 System.gc() calls per suite
        // run); a no-pin repeat's modest garbage is exactly what the young
        // generation handles without a stop-the-world full GC.
        val pinned = spark.sparkContext.getPersistentRDDs.values
        if (pinned.nonEmpty) {
          pinned.foreach(_.unpersist(blocking = true))
          // drain the garbage this repeat produced so its collection pause
          // can't land inside the NEXT repeat's timing window
          System.gc()
        }
        dt
      }
      q.name -> (if (errors.contains(q.name)) Seq(-1.0) else times)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v.min }
      .mkString("{", ",", "}")
    // per-repeat times: the raw evidence behind every min — kept in the
    // artifact so round-over-round ratio claims are recomputable (and so
    // a query whose repeats swing >1.5x is visibly untrustworthy at the
    // single-min grain; tools/bench_ratio.py reads this)
    // Locale.ROOT: the f-interpolator uses the JVM default locale — under a
    // comma-decimal locale it would emit [1,2345], silently corrupting the
    // JSON that tools/bench_ratio.py parses (ADVICE r9)
    def num(t: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(t))
    val reps = results.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(t => num(t, 4)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("{", ",", "}")
    // diag: {"q":[[core_s,cpu_s,gc_ms,spill_mb],…]} — one tuple per repeat
    val diagJson = diags.map { case (k, v) =>
      "\"" + k + "\":[" + v.map { case (core, cpu, gc, sp) =>
        s"[${num(core, 1)},${num(cpu, 1)},$gc,$sp]"
      }.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v.min >= 0 => v.min }.sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","box_health":$boxHealth,"queries":$qs,"repeats":$reps,"diag":$diagJson,"errors":$errJson,"sf":"$sfDir"}"""
    println(line)
    // The driver keeps only the LAST 2000 chars of stdout: the full
    // 152-query line above is head-truncated there (it survives intact in
    // BENCH_FULL.json below), so ALSO print a compact summary as the final
    // line, sized to fit the tail window whole — that's what the driver's
    // JSON parse picks up.
    val ok = results.collect { case (k, v) if v.min >= 0 => (k, v.min) }
    val worst = if (ok.isEmpty) ("none", 0.0) else ok.maxBy(_._2)
    val headline = Seq("q1_agg", "q_join_revenue", "q_sort_total",
      "q_dedup_exact", "q_dedup_minhash", "q_dedup_clusters_star",
      "q_ann_cosine", "q_ann_ivf", "q_pack_sequences", "q_tera_validate")
    val hq = ok.filter(r => headline.contains(r._1))
      .map { case (k, v) => "\"" + k + "\":" + num(v, 3) }.mkString("{", ",", "}")
    val summary =
      s"""{"metric":"total","value":${num(total, 2)},"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"worst":{"${worst._1}":${num(worst._2, 2)}},"queries":$hq,"sf":"$sfDir","full_map":"BENCH_FULL.json"}"""
    // persist the full line as a repo artifact so every round's timings are
    // diffable query by query (default path is cwd-relative — ADVICE r5).
    // A FILTERED run (SPARK_GRAFT_ONLY) must NOT clobber the full map with
    // its subset — solo profiling once overwrote the 232-query artifact
    // with a 1-query one; filtered runs write only when explicitly routed.
    val benchOut = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    val fullRun = only.isEmpty && benchOut.isEmpty
    val outFile = benchOut.orElse(if (fullRun) Some("BENCH_FULL.json") else None)
    def writeFile(f: String, s: String): Unit =
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(f), s + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $f: ${e.getMessage}")
      }
    outFile.foreach(writeFile(_, line))
    // fixed side file with the compact summary (VERDICT r16 item 1): the
    // driver's JSON parse of stdout failed two rounds running to log
    // decoration; a file can't be eaten by a logger. Written only beside
    // the default BENCH_FULL.json, so a routed or filtered run never
    // leaves a summary that disagrees with the full map.
    if (fullRun) writeFile("BENCH_SUMMARY.json", summary)
    summary
  }
}
