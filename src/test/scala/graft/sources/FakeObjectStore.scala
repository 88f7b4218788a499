package graft.sources

import java.net.URI
import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardOpenOption}

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** Test double for an S3-class object store: a Hadoop FileSystem whose
  * `rename` is a precondition-free replace (the copy+delete an object
  * store actually does — the primitive [[TxLog.SchemeClaim]]'s HDFS route
  * depends on is simply absent), but which DOES offer a whole-object
  * atomic put-if-absent ([[TxLog.ConditionalPut]] — the S3
  * `If-None-Match: *` / GCS generation-0 conditional write). Hosting a
  * multi-writer txlog on such a store requires
  * `graft.txlog.claim=conditional-create`, which is exactly what the spec
  * exercises. Storage is delegated to the local filesystem; only the
  * CONTRACT differences are modeled. */
class FakeObjectStoreFileSystem extends RawLocalFileSystem
    with TxLog.ConditionalPut {
  override def getScheme: String = FakeObjectStoreFileSystem.Scheme
  override def getUri: URI =
    URI.create(s"${FakeObjectStoreFileSystem.Scheme}:///")

  // S3-style "rename": copy + delete with NO precondition — two racing
  // renames onto one target both report success and one source vanishes
  override def rename(src: Path, dst: Path): Boolean = {
    delete(dst, false)
    super.rename(src, dst)
  }

  override def putIfAbsent(target: Path, bytes: Array[Byte]): Boolean = {
    val p = Paths.get(target.toUri.getPath)
    Files.createDirectories(p.getParent)
    try {
      // CREATE_NEW is an atomic exists-check-and-create at the kernel —
      // faithfully modeling a conditional PUT's all-or-nothing visibility
      Files.write(p, bytes, StandardOpenOption.CREATE_NEW)
      true
    } catch { case _: FileAlreadyExistsException => false }
  }
}

/** [[FakeObjectStoreFileSystem]] whose conditional put ALWAYS fails with a
  * transient store error — the arm of [[TxLog.ConditionalCreateClaim]] that
  * must still clean up its tmp manifest (ADVICE r10: a throwing
  * putIfAbsent used to leak `.tmp` files under `_txlog/` forever). */
class FlakyObjectStoreFileSystem extends FakeObjectStoreFileSystem {
  override def getScheme: String = FlakyObjectStoreFileSystem.Scheme
  override def getUri: URI =
    URI.create(s"${FlakyObjectStoreFileSystem.Scheme}:///")
  override def putIfAbsent(target: Path, bytes: Array[Byte]): Boolean =
    throw new java.io.IOException("transient store error (simulated)")
}

object FlakyObjectStoreFileSystem {
  val Scheme = "flakyos"
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.$Scheme.impl", classOf[FlakyObjectStoreFileSystem].getName)
}

object FakeObjectStoreFileSystem {
  val Scheme = "fakeos"

  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.$Scheme.impl", classOf[FakeObjectStoreFileSystem].getName)

  def uri(absolutePath: String): String = {
    require(absolutePath.startsWith("/"),
      s"need an absolute path: $absolutePath")
    s"$Scheme://$absolutePath"
  }
}

/** [[FakeObjectStoreFileSystem]] that counts every open of a file under a
  * `_txlog/` directory — on an object store each is a GET, and a log
  * replay costs one per manifest it reads. Specs pin a verb's replay
  * count with it. */
class CountingObjectStoreFileSystem extends FakeObjectStoreFileSystem {
  override def getScheme: String = CountingObjectStoreFileSystem.Scheme
  override def getUri: URI =
    URI.create(s"${CountingObjectStoreFileSystem.Scheme}:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.toUri.getPath.contains("/_txlog/"))
      CountingObjectStoreFileSystem.logOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingObjectStoreFileSystem {
  val Scheme = "countos"
  val logOpens = new java.util.concurrent.atomic.AtomicLong

  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.$Scheme.impl", classOf[CountingObjectStoreFileSystem].getName)

  def uri(absolutePath: String): String = {
    require(absolutePath.startsWith("/"),
      s"need an absolute path: $absolutePath")
    s"$Scheme://$absolutePath"
  }

  /** `_txlog/` opens `body` makes. */
  def logOpensOf(body: => Any): Long = {
    val before = logOpens.get
    body
    logOpens.get - before
  }
}

/** Child main for the CROSS-PROCESS writer-race spec: commits `n` adds
  * tagged `tag` against the txlog at `dir` with optimistic retry, then
  * exits 0. Spawned as a separate JVM — the claim primitive's atomicity
  * must hold between PROCESSES (two drivers committing to one table),
  * which no in-JVM thread test can prove. */
object TxLogRaceChild {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val n = args(1).toInt
    val tag = args(2)
    (0 until n).foreach { i =>
      TxLog.commitWithRetry(dir, Seq(s"/data/$tag-$i"), maxAttempts = 500)
    }
  }
}
