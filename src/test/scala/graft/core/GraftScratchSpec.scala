package graft.core

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Where gate side files go: one root per dataset, keyed by the data
  * dir's canonical path, under `java.io.tmpdir`. Every dir the spec
  * makes lives under a [[TestSpark.tmpDir]], except the scratch roots,
  * which stay empty, so `deleteOnExit` removes them. */
class GraftScratchSpec extends AnyFunSuite {

  private def dataDir(parent: Path): Path =
    Files.createDirectories(parent.resolve("sf0.01"))

  private def root(dataDir: String): Path = {
    val r = Paths.get(Graft.scratch(dataDir, "x")).getParent
    r.toFile.deleteOnExit()
    r
  }

  test("same basename in different parents maps to different roots") {
    val a = dataDir(TestSpark.tmpDir("graft-scratch-a"))
    val b = dataDir(TestSpark.tmpDir("graft-scratch-b"))
    assert(root(a.toString) != root(b.toString))
    assert(Graft.scratch(a.toString, "derby") != Graft.scratch(b.toString, "derby"))
  }

  test("a relative path or a symlink to the same dir maps to the same root") {
    val d = dataDir(TestSpark.tmpDir("graft-scratch-same"))
    val relative = Paths.get("").toAbsolutePath.relativize(d)
    assert(!relative.isAbsolute)
    val link = Files.createSymbolicLink(TestSpark.tmpDir("graft-scratch-link").resolve("sf0.01"), d)
    assert(root(relative.toString) == root(d.toString))
    assert(root(link.toString) == root(d.toString))
    assert(Graft.scratch(link.toString, "streamsrc") ==
      Graft.scratch(d.toString, "streamsrc"))
  }

  test("the root sits under java.io.tmpdir and exists") {
    val d = dataDir(TestSpark.tmpDir("graft-scratch-tmp"))
    val r = root(d.toString)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    assert(r.getParent == tmp)
    assert(r.getFileName.toString.startsWith("graft-sf0.01-"))
    assert(Files.isDirectory(r))
  }

  test("name is a child of the root") {
    val d = dataDir(TestSpark.tmpDir("graft-scratch-child")).toString
    val p = Paths.get(Graft.scratch(d, "txlog_merge"))
    assert(p.getFileName.toString == "txlog_merge")
    assert(p.getParent == root(d))
    assert(Paths.get(Graft.scratch(d, "stream_jdbc.ckpt")).getParent == root(d))
  }
}
