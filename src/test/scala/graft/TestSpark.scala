package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (multiple SparkContexts in one
  * JVM are not supported; Test/fork gives the suite JVM its own), built by
  * the same factory as every main, pinned to 4 cores and 4 partitions. */
object TestSpark {
  lazy val spark: SparkSession = {
    // a private warehouse per suite JVM: SparkConf picks up spark.* system
    // properties
    System.setProperty("spark.sql.warehouse.dir",
      tmpDir("graft-warehouse").toString)
    val s = graft.core.Graft.session("graft-test", cpus = 4, shufflePartitions = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  // priority 0 runs after Spark's own hooks (session stop, its temp dirs)
  org.apache.hadoop.util.ShutdownHookManager.get()
    .addShutdownHook(() => tmpDirs.forEach(deleteTree), 0)

  /** A fresh temp dir `<prefix>…` whose tree is deleted when the test JVM
    * exits, so a suite run leaves nothing behind in `java.io.tmpdir`. */
  def tmpDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tmpDirs.add(d)
    d
  }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
    }
}
