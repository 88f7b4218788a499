package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `spark.graft.*` / `graft.txlog.*` conf key and `SPARK_GRAFT_*`
  * env var named as a string literal under `src/main/scala` has a row in
  * the README's Settings table, and every row names one the code still
  * reads — so a new switch cannot land undocumented, and a deleted one
  * cannot stay documented. */
class ConfKeysSpec extends AnyFunSuite {

  private val Key = """(?:spark\.graft|graft\.txlog)\.[A-Za-z0-9_.]+|SPARK_GRAFT_[A-Z0-9_]+"""

  private val repo: File = Iterator
    .iterate(new File(".").getCanonicalFile)(_.getParentFile)
    .takeWhile(_ != null)
    .find(d => new File(d, "build.sbt").isFile && new File(d, "README.md").isFile)
    .getOrElse(fail("no repo root above the working directory"))

  test("the README Settings table lists exactly the keys src/main reads") {
    val literal = ("\"(" + Key + ")\"").r
    val inCode = Files.walk(new File(repo, "src/main/scala").toPath)
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => literal.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSet
    val row = ("""^\| `(""" + Key + """)` \|""").r
    val readme = Files.readAllLines(new File(repo, "README.md").toPath).asScala
    val inTable = readme.flatMap(l => row.findFirstMatchIn(l).map(_.group(1))).toSet
    assert(inCode.nonEmpty && inTable.nonEmpty)
    assert((inCode -- inTable).isEmpty,
      s"read in src/main but missing from the README table: ${inCode -- inTable}")
    assert((inTable -- inCode).isEmpty,
      s"in the README table but read nowhere in src/main: ${inTable -- inCode}")
  }
}
