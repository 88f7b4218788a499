package graft.tools

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import graft.sources.TxLog

/** r15 probe: concurrent-writer THROUGHPUT of the claim-store contract —
  * the numbers behind the BENCH_SCALE `multi_writer_r15` row (VERDICT
  * r14 item 5: round 14 hardened lost-race RETRIES with interleaving
  * specs; this measures what the contract costs under real contention).
  *
  * Shape: per writer count N (default 2 / 4 / 8), N appender threads
  * each land `SPARK_GRAFT_COMMITS` commits against ONE table while a
  * maintenance thread runs a compaction-shaped loop (remove-4-add-1
  * rewrite commits pinned at a resolved version + periodic checkpoint —
  * the OPTIMIZE pattern) until the appenders finish. Appends use the
  * production retry discipline (retry on [[TxLog.LostRace]] after
  * [[TxLog.raceBackoff]], 64-attempt bound); the compactor retries
  * after a fixed 5 ms. Commits are log-only
  * (synthetic batch paths): data-file writes land in DISTINCT dirs and
  * never contend — the claim file is the only shared resource, so the
  * log is the honest surface of the contract being measured.
  *
  * Reported per N: append throughput (commits/s across all writers),
  * retry rate (lost races per successful commit), and p50/p99 of the
  * per-commit latency (first attempt → success; a commit that
  * exhausts the bound counts in `failed` and never pollutes the
  * latency distribution), plus the compactor's completed rounds.
  * Claim: no livelock (every commit lands within the production
  * 64-attempt bound), p99 growing with N as contention theory
  * predicts, throughput not collapsing.
  *
  * Usage: SPARK_GRAFT_WRITERS=2,4,8 SPARK_GRAFT_COMMITS=50 \
  *   sbt -batch "runMain graft.tools.MultiWriterProbe"
  */
/** Injected-latency [[TxLog.ClaimStore]] (r16, VERDICT r15 item 8): the
  * local scheme claim is ~12 ms end-to-end, but a real S3/GCS/ABFS
  * conditional put is a 30–100 ms round-trip — contention behavior
  * (retry budget, p99, phase-lock risk) scales with that latency, so
  * the probe gets an arm that sleeps a configured delay inside every
  * claim attempt before delegating to the real primitive. Installed via
  * `graft.txlog.claim=<this class>` (the production extension seam, no
  * probe-only hooks) + `SPARK_GRAFT_CLAIM_MS`. */
final class LatencyClaim extends TxLog.ClaimStore {
  private val delayMs =
    sys.env.getOrElse("SPARK_GRAFT_CLAIM_MS", "40").toLong
  def claim(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      target: org.apache.hadoop.fs.Path): Boolean = {
    Thread.sleep(delayMs) // the store round-trip
    TxLog.SchemeClaim.claim(fs, tmp, target)
  }
}

object MultiWriterProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Graft.session("multi-writer-probe")
    spark.sparkContext.setLogLevel("WARN")
    val writerCounts = sys.env.getOrElse("SPARK_GRAFT_WRITERS", "2,4,8")
      .split(",").map(_.trim.toInt).toSeq
    val commitsPer = sys.env.getOrElse("SPARK_GRAFT_COMMITS", "50").toInt
    // latency arm: install the injected-latency claim through the
    // production conf seam; unset = the local scheme claim as before
    sys.env.get("SPARK_GRAFT_CLAIM_MS").foreach { ms =>
      spark.sparkContext.hadoopConfiguration
        .set("graft.txlog.claim", classOf[LatencyClaim].getName)
      println(s"[probe] latency arm: +${ms}ms per claim attempt")
    }

    val points = writerCounts.map { n =>
      val root = s"/tmp/graft_mwprobe_$n"
      TxLog.destroy(root)
      // a seed live set so the compactor has files to fold from round 0
      TxLog.commitWithStats(root,
        (0 until 64).map(i => s"$root/data/seed_$i" -> Some(s"v;$i.0;$i.0")))
      val retries = new AtomicLong
      val latenciesNs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val failed = new AtomicLong

      /** The production retry discipline around one claim attempt
        * (TxLog.raceBackoff, 64-attempt bound — the first probe run
        * showed the OLD deterministic 16-attempt discipline exhausting
        * at N=4, which is what motivated the production change), but
        * counting lost races and exhaustions instead of throwing. */
      def retrying(attemptOnce: () => Unit): Unit = {
        var attempt = 0
        var done = false
        var ok = false
        val t0 = System.nanoTime()
        while (!done) {
          attempt += 1
          try { attemptOnce(); done = true; ok = true }
          catch {
            case _: TxLog.LostRace =>
              retries.incrementAndGet()
              if (attempt >= 64) { failed.incrementAndGet(); done = true }
              else TxLog.raceBackoff(attempt)
          }
        }
        // success latencies only: an exhausted commit's duration is a
        // failure budget, not a p50/p99 sample
        if (ok) latenciesNs.add(System.nanoTime() - t0)
        ()
      }

      val writers = (0 until n).map { w =>
        new Thread(() => {
          (0 until commitsPer).foreach { i =>
            retrying(() =>
              TxLog.commitWithStats(root,
                Seq(s"$root/data/w${w}_b$i" -> Some(s"v;$i.0;$i.0"))))
          }
        }, s"writer-$w")
      }
      val stop = new AtomicBoolean(false)
      val compactRounds = new AtomicLong
      val compactor = new Thread(() => {
        var round = 0
        while (!stop.get()) {
          round += 1
          // the OPTIMIZE shape: resolve, fold the 4 oldest leaves into
          // one, commit the swap pinned at the version the resolution
          // saw +1 — a concurrent append wins the slot and forces the
          // re-resolve+retry path (the conflict class the contract
          // hardened in r14)
          var done = false
          var attempt = 0
          while (!done && !stop.get()) {
            attempt += 1
            val v = TxLog.latestVersion(root)
            val victims = TxLog.liveFiles(root).take(4)
            try {
              TxLog.commitWithStats(root,
                Seq(s"$root/data/compact_${round}_$attempt" ->
                  Some("v;0.0;1000000.0")),
                remove = victims, atVersion = v + 1)
              done = true
              compactRounds.incrementAndGet()
            } catch {
              case _: TxLog.LostRace =>
                retries.incrementAndGet()
                Thread.sleep(5)
            }
          }
          if (round % 8 == 0) { TxLog.checkpoint(root); () }
        }
      }, "compactor")

      val t0 = System.nanoTime()
      compactor.start(); writers.foreach(_.start())
      writers.foreach(_.join())
      stop.set(true); compactor.join()
      val wallS = (System.nanoTime() - t0) / 1e9

      import scala.jdk.CollectionConverters._
      val lats = latenciesNs.asScala.toArray.sorted
      def pct(p: Double): Double =
        lats((p * (lats.length - 1)).toInt) / 1e6
      val commits = n * commitsPer
      val row = Map[String, Any](
        "writers" -> n,
        "commits" -> commits,
        "throughput_cps" -> math.round(commits / wallS * 10) / 10.0,
        "retry_per_commit" ->
          math.round(retries.get.toDouble / commits * 1000) / 1000.0,
        "p50_ms" -> math.round(pct(0.50) * 10) / 10.0,
        "p99_ms" -> math.round(pct(0.99) * 10) / 10.0,
        "failed" -> failed.get,
        "compact_rounds" -> compactRounds.get)
      println(s"POINT $row")
      // invariant: nothing livelocked and the log replays cleanly
      require(failed.get == 0, s"append exhausted its retry bound at N=$n")
      require(TxLog.liveEntries(root).nonEmpty)
      TxLog.destroy(root)
      row
    }
    val json = points.map(p => p.map { case (k, v) =>
      s""""$k": $v""" }.mkString("   {", ", ", "}"))
      .mkString("[\n", ",\n", "\n  ]")
    println("MULTI_WRITER_R15 " + json)
    spark.stop()
  }
}
