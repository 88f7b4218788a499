package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{BoxHealth, Queries, QuerySpec, SparkEntry}

/** One benchmark run in one JVM: a closed loop with one client over a
  * workload's registry gates. Set-up (session plus fixture staging), one
  * cold pass whose outputs are written as parquet for the oracle check,
  * then warm passes until both the time budget and the minimum number of
  * passes are spent, each gate forced through a noop sink. With --trace 1
  * every gate is wrapped in spans and per-layer counters (see [[Tracer]]).
  * Writes a raw JSON record; the statistics are computed by the Python side
  * (perfbench/run.py).
  *
  * Arguments: --data DIR --gates g1,g2 --seed N --seconds S --trace 0|1
  * --min-passes N --cpus N --check-dir DIR --box-health FILE --out FILE */
object Harness {

  final case class Failure(gate: String, pass: Int, phase: String, cls: String, msg: String)

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val dataDir = opt("data")
    val cpus = opt("cpus").toInt
    val out = opt("out")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val spark = session(cpus, counting = opt.get("trace").contains("1"))
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val record = mutable.LinkedHashMap.empty[String, Any]
    record("session_s") = sessionS
    record("main_s") = mainS
    try {
      val specs = opt("gates").split(",").toSeq.map { g =>
        Queries.all.find(_.name == g).getOrElse(sys.error(s"no registry gate named $g"))
      }
      record("oracles") = specs.flatMap(q => SparkEntry.oracleSql.get(q.name).map(q.name -> _)).toMap
      val failures = mutable.ArrayBuffer.empty[Failure]
      def fail(q: QuerySpec, pass: Int, phase: String, e: Throwable): Unit =
        failures += Failure(q.name, pass, phase, e.getClass.getName,
          Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("").take(300))

      val st0 = System.nanoTime()
      specs.foreach { q =>
        q.stage.foreach { f =>
          try f(spark, dataDir) catch { case e: Throwable => fail(q, 0, "stage", e) }
        }
      }
      sweep(spark, always = true)
      record("stage_s") = (System.nanoTime() - st0) / 1e9
      measure(spark, specs, opt, dataDir, record, fail)
      record("failures") = failures.map(f => Map("gate" -> f.gate, "pass" -> f.pass,
        "phase" -> f.phase, "class" -> f.cls, "message" -> f.msg))
      // one machine-state probe (~8 s) per checkout, after the measurement
      opt.get("box-health").filterNot(f => new java.io.File(f).exists).foreach { f =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(f), BoxHealth.probe(spark, cpus))
      }
      record("context") = Map(
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "jdk" -> System.getProperty("java.version"),
        "master" -> spark.sparkContext.master,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "available_processors" -> Runtime.getRuntime.availableProcessors)
    } finally {
      try spark.stop()
      catch { case e: Throwable => record("stop_error") = e.toString }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json(record))
    }
  }

  private def json(record: mutable.LinkedHashMap[String, Any]): String = Json(record) + "\n"

  private def session(cpus: Int, counting: Boolean): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (counting) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Drops blocks a gate left pinned, outside any timed window, as the
    * legacy bench does between repeats. */
  private def sweep(spark: SparkSession, always: Boolean = false): Unit = {
    val pinned = spark.sparkContext.getPersistentRDDs.values
    pinned.foreach(_.unpersist(blocking = true))
    if (always || pinned.nonEmpty) System.gc()
  }

  private def measure(spark: SparkSession, specs: Seq[QuerySpec],
      opt: Map[String, String], dataDir: String,
      record: mutable.LinkedHashMap[String, Any],
      fail: (QuerySpec, Int, String, Throwable) => Unit): Unit = {
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val minPasses = opt("min-passes").toInt
    val tracer = if (opt.get("trace").contains("1")) Some(new Tracer(spark)) else None
    val checkDir = opt("check-dir")
    val memory = ManagementFactory.getMemoryMXBean
    var heapPeak = 0L

    // the cold pass keeps the workload's own order, so the gate that pays
    // the JVM's first-query cost is the same in every run
    def order(pass: Int): Seq[QuerySpec] =
      if (pass == 0) specs else new scala.util.Random(seed * 1000003L + pass).shuffle(specs)

    /** One pass; returns its wall time, per-gate rows and per-layer totals. */
    def runPass(pass: Int, sink: (QuerySpec, DataFrame) => Unit,
        heapAfterGates: Boolean): Map[String, Any] = {
      val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
      val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val skews = mutable.ArrayBuffer.empty[Double]
      val jit0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
      var wall = 0.0
      order(pass).foreach { q =>
        tracer.foreach(_.beginGate(q.name, pass))
        val t0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        var n1 = n0
        var ok = true
        try {
          val df = q.run(spark, dataDir)
          n1 = System.nanoTime()
          tracer.foreach(_.markSink())
          sink(q, df)
        } catch {
          case e: Throwable =>
            ok = false
            fail(q, pass, if (n1 == n0) "run" else "sink", e)
        }
        val n2 = System.nanoTime()
        if (n1 == n0) n1 = n2
        val t2 = System.currentTimeMillis()
        wall += (n2 - n0) / 1e9
        System.err.println(f"[harness] pass $pass%d ${q.name}%s ${(n2 - n0) / 1e9}%.3f s")
        rows += Map("gate" -> q.name, "run_s" -> (n1 - n0) / 1e9,
          "sink_s" -> (n2 - n1) / 1e9, "ok" -> ok)
        tracer.foreach { tr =>
          val (counters, gateSkews) = tr.endGate(t0, t0 + (n1 - n0) / 1000000, t2)
          counters.foreach { case (k, v) =>
            if (k == "core.pinned_mb") layers(k) = math.max(layers(k), v) else layers(k) += v
          }
          skews ++= gateSkews
          layers("queries.build_s") += (n1 - n0) / 1e9
          layers("exec.exec_s") += (n2 - n1) / 1e9
        }
        if (heapAfterGates) {
          System.gc()
          heapPeak = math.max(heapPeak, memory.getHeapMemoryUsage.getUsed)
        }
        sweep(spark)
      }
      if (tracer.nonEmpty) {
        val cpus = spark.sparkContext.defaultParallelism
        layers("exec.core_util") = layers("exec.task_s") / (wall * cpus)
        layers("exec.task_skew") =
          if (skews.isEmpty) 1.0 else skews.sorted.apply(skews.size / 2)
        layers("jvm.jit_ms") =
          (ManagementFactory.getCompilationMXBean.getTotalCompilationTime - jit0).toDouble
        layers("trace.pass_s") = wall
      }
      Map("pass" -> pass, "pass_s" -> wall, "gates" -> rows.toSeq, "layers" -> layers.toMap)
    }

    // the cold pass also takes the heap peak: the heap still used after a
    // full GC that follows each gate, outside its timed window and before its
    // pinned blocks are dropped, so every gate's retained memory is seen in
    // every run; on the warm passes those GCs would cost a run ~4 s
    val cold = runPass(0, (q, df) => df.write.mode("overwrite").parquet(s"$checkDir/${q.name}"),
      heapAfterGates = true)
    def noop(q: QuerySpec, df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    val warm = mutable.ArrayBuffer.empty[Map[String, Any]]
    val w0 = System.nanoTime()
    while (warm.size < minPasses || (System.nanoTime() - w0) / 1e9 < seconds) {
      warm += runPass(warm.size + 1, noop, heapAfterGates = false)
      // keeps one pass's garbage out of the next pass's timings
      System.gc()
    }
    record("cold") = cold
    record("warm") = warm.toSeq
    record("warm_s") = (System.nanoTime() - w0) / 1e9
    record("heap_peak_mb") = heapPeak / 1048576.0
    tracer.foreach { tr =>
      record("spans") = tr.spans.map(s => Seq(s.id, s.parent, s.name, s.gate, s.pass, s.startMs, s.endMs))
    }
  }
}
