package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one call into a layer, with the span that caused it. Gate spans
  * are roots; `run` (QuerySpec.run) and `sink` (the noop write) are their
  * children; Spark jobs are children of whichever of the two was open when
  * the job started. */
final case class Span(id: Int, parent: Int, name: String, gate: String,
    pass: Int, startMs: Double, endMs: Double)

/** Records spans around each gate's calls into the program and the Spark
  * listener events nested under them, and turns them into per-gate layer
  * counters. Listener events arrive asynchronously; [[endGate]] drains the
  * listener bus, so every event of a gate is attributed to that gate. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val lock = new Object
  private val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val skews = mutable.ArrayBuffer.empty[Double]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobs = mutable.Map.empty[Int, Long]
  private val plans = mutable.ArrayBuffer.empty[SparkPlan]
  private val progress = mutable.Map.empty[java.util.UUID, StreamingQueryProgress]
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var sinkStartMs = Long.MaxValue
  private var gate = ""
  private var pass = 0
  private var gateSpan = 0
  private var runSpan = 0
  private var sinkSpan = 0

  private val originMs = System.currentTimeMillis()
  private def rel(ms: Long): Double = (ms - originMs).toDouble
  private def add(k: String, v: Double): Unit = acc(k) += v

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobs(e.jobId) = e.time
      add("exec.jobs", 1)
      if (e.time < sinkStartMs) add("queries.build_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.remove(e.jobId).foreach { t0 =>
        val parent = if (t0 < sinkStartMs) runSpan else sinkSpan
        spanBuf += Span(spanBuf.size + 1, parent, s"job ${e.jobId}", gate, pass,
          rel(t0), rel(e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      add("exec.tasks", 1)
      if (m != null) {
        add("exec.task_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.shuffle_read_mb",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1048576.0)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        add("exec.input_mb", m.inputMetrics.bytesRead / 1048576.0)
        add("exec.input_rows", m.inputMetrics.recordsRead.toDouble)
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      add("exec.stages", 1)
      stageTasks.remove(e.stageInfo.stageId).filter(_.size >= 2).foreach { ts =>
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2)
        if (med > 0) skews += sorted.last.toDouble / med
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      add("plans.actions", 1)
      val phases = qe.tracker.phases
      phases.get("analysis").foreach(p => add("plans.analysis_ms", p.durationMs.toDouble))
      phases.get("optimization").foreach(p => add("plans.optimize_ms", p.durationMs.toDouble))
      phases.get("planning").foreach(p => add("plans.planning_ms", p.durationMs.toDouble))
      plans += qe.executedPlan
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val p = e.progress
        add("streaming.triggers", 1)
        Option(p.durationMs.get("triggerExecution")).foreach(v => add("streaming.trigger_ms", v.toDouble))
        Option(p.durationMs.get("addBatch")).foreach(v => add("streaming.addbatch_ms", v.toDouble))
        progress(p.id) = p
      }
  })

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val os = ManagementFactory.getOperatingSystemMXBean
  private def gcMs: Double = gcBeans.map(_.getCollectionTime.toDouble).sum
  private def gcCount: Double = gcBeans.map(_.getCollectionCount.toDouble).sum
  private def processCpuS: Double = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Bytes from Hadoop's FileSystem statistics for the `file:` scheme,
    * which both the parquet sources and TxLog's commits go through;
    * operations from [[CountingFileSystem]]. */
  private def fsStats: Map[String, Double] = {
    @annotation.nowarn("cat=deprecation")
    val all = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Map(
      "sources.fs_read_mb" -> all.map(_.getBytesRead).sum / 1048576.0,
      "sources.fs_write_mb" -> all.map(_.getBytesWritten).sum / 1048576.0,
      "sources.fs_read_ops" -> CountingFileSystem.readOps.get.toDouble,
      "sources.fs_write_ops" -> CountingFileSystem.writeOps.get.toDouble,
      "sources.fs_large_read_ops" -> CountingFileSystem.listOps.get.toDouble)
  }

  private var before: Map[String, Double] = Map.empty

  private def snapshot(): Map[String, Double] =
    fsStats ++ Map("jvm.gc_ms" -> gcMs, "jvm.gc_count" -> gcCount, "cpu" -> processCpuS)

  /** Opens a gate span. Call outside the timed window. */
  def beginGate(name: String, passNo: Int): Unit = {
    PerfbenchBus.drain(sc)
    lock.synchronized {
      acc.clear(); skews.clear(); stageTasks.clear(); plans.clear(); progress.clear()
      gate = name; pass = passNo
      sinkStartMs = Long.MaxValue
      gateSpan = spanBuf.size + 1
      runSpan = gateSpan + 1
      sinkSpan = gateSpan + 2
      // placeholders, so job spans opened meanwhile get later ids
      Seq(gateSpan, runSpan, sinkSpan).foreach(id => spanBuf += Span(id, 0, "", name, passNo, 0, 0))
    }
    before = snapshot()
  }

  /** Marks the end of QuerySpec.run and the start of the sink action. */
  def markSink(): Unit = lock.synchronized { sinkStartMs = System.currentTimeMillis() }

  /** Closes the gate: drains the listener bus and returns the gate's layer
    * counters. `t0`/`t1`/`t2` are the gate's start, sink start and end in
    * epoch milliseconds. Call outside the timed window. */
  def endGate(t0: Long, t1: Long, t2: Long): (Map[String, Double], Seq[Double]) = {
    val after = snapshot()
    PerfbenchBus.drain(sc)
    lock.synchronized {
      spanBuf(gateSpan - 1) = Span(gateSpan, 0, "gate", gate, pass, rel(t0), rel(t2))
      spanBuf(runSpan - 1) = Span(runSpan, gateSpan, "QuerySpec.run", gate, pass, rel(t0), rel(t1))
      spanBuf(sinkSpan - 1) = Span(sinkSpan, gateSpan, "sink", gate, pass, rel(t1), rel(t2))
      val deltas = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
      val out = mutable.Map.empty[String, Double] ++ acc
      deltas.foreach { case (k, v) => if (k != "cpu") out(k) = v }
      out("jvm.driver_cpu_s") = deltas("cpu") - acc("exec.task_cpu_s")
      // plan facts come from the final plan of the gate's last action, the sink
      plans.lastOption.foreach { p =>
        val nodes = planNodes(p)
        out("plans.exchanges") = nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble
        out("plans.sorts") = nodes.count(_.isInstanceOf[SortExec]).toDouble
        out("plans.broadcasts") = nodes.count(_.isInstanceOf[BroadcastExchangeLike]).toDouble
        val scans = nodes.filter {
          case _: FileSourceScanExec | _: BatchScanExec => true
          case _ => false
        }
        out("plans.dup_scans") =
          scans.groupBy(_.canonicalized).values.map(_.size - 1).sum.toDouble
      }
      val last = progress.values.toSeq
      out("streaming.state_rows") = last.flatMap(_.stateOperators.map(_.numRowsTotal)).sum.toDouble
      out("streaming.state_mb") =
        last.flatMap(_.stateOperators.map(_.memoryUsedBytes)).sum / 1048576.0
      out("core.pinned_mb") = sc.getExecutorMemoryStatus.values
        .map { case (max, free) => (max - free) / 1048576.0 }.sum
      (out.toMap, skews.toSeq)
    }
  }

  /** Every node of an executed plan, looking through adaptive plans,
    * query stages and subqueries; reused exchanges count once. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  def spans: Seq[Span] = lock.synchronized(spanBuf.toSeq)
}
