package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** r11 probe (VERDICT r10 item 1): stage-level cost breakdown of the
  * triangle family, hunting the in-suite blowup. For each named variant it
  * prints per-stage executorRunTime / shuffle bytes / spill bytes so the
  * dominant stage (and any pressure-sensitive spill) is visible, plus wall
  * time and total core-seconds — the number that decides whether a
  * CPU-contended driver machine can still land the query under 10 s.
  *
  * Usage: runMain graft.tools.GraphProbe [reps]
  *   SPARK_GRAFT_SF_DIR overrides the data dir (default sf0.1).
  */
object GraphProbe {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_PARTS (read by the session factory) widens shuffle
    // partitions for the decade points, as a real cluster raises width
    // with volume; per-task aggregate state then stays in memory
    val spark = graft.core.Graft.session("graph-probe")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Long, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages.add((si.stageId,
          si.name.takeWhile(_ != '\n').take(60),
          m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled,
          m.diskBytesSpilled))
        ()
      }
    })
    spark.range(1000000).selectExpr("sum(id)")
      .write.format("noop").mode("overwrite").save()
    def edges() = {
      val li = graft.core.Graft.table(spark, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val a = li.select(col("ok"), col("pk").as("src"))
      val b = li.select(col("ok").as("ok2"), col("pk").as("dst"))
      a.join(b, col("ok") === col("ok2") && col("src") < col("dst"))
        .select(col("src"), col("dst"))
    }
    if (sys.env.contains("SPARK_GRAFT_EDGE_COUNT")) {
      val e = edges().select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
        .distinct().count()
      println(s"[probe] distinct undirected edges: $e")
    }
    def run(label: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      val times = (1 to reps).map { i =>
        stages.clear()
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        val ss = stages.iterator()
        var core = 0L
        val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Long, Long, Long)]
        while (ss.hasNext) { val s = ss.next(); core += s._3; rows += s }
        if (i == reps) {
          rows.sortBy(-_._3).take(12).foreach { case (id, nm, rt, sw, ms, ds) =>
            println(f"[stage] $label #$id%-4d ${rt / 1000.0}%8.2f core-s  shufW=${sw / 1048576}%5dM  spillMem=${ms / 1048576}%5dM spillDisk=${ds / 1048576}%4dM  $nm")
          }
        }
        println(f"[probe] $label iter $i  wall=$dt%6.2f s  core=${core / 1000.0}%8.1f s  stages=${rows.size}")
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        System.gc()
        dt
      }
      println(f"[probe] $label min=${times.min}%.2f s")
    }
    val which = sys.env.getOrElse("SPARK_GRAFT_PROBE_ONLY",
      "clustering_coeff,triangles").split(",").toSet
    if (which("clustering_coeff"))
      run("clustering_coeff")(
        graft.operators.GraphOps.clusteringCoefficient(edges()).orderBy("node"))
    if (which("triangles"))
      run("triangles")(
        graft.operators.GraphOps.triangleCounts(edges()).orderBy("node"))
    if (which("link_prediction"))
      // the gate's r12 edge path: per-order bucket fan-out, no self-join
      run("link_prediction")(
        graft.operators.GraphOps.linkPrediction(
          graft.operators.GraphOps.coOccurrenceEdges(
            graft.core.Graft.table(spark, dir, "lineitem"),
            col("l_orderkey"), col("l_partkey")),
          maxDegree = 100, minCommon = 5L).orderBy("n1", "n2"))
    spark.stop()
  }
}
