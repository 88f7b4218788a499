package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.TestSpark
import graft.core.Graft

class SourcesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-test").toString

  test("string-range predicates split a JDBC read disjointly and cover NULLs") {
    System.setProperty("derby.stream.error.file", s"${tmpDir()}/derby.log")
    val url = s"jdbc:derby:${tmpDir()}/db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    // seed via raw JDBC: the unit under test is the predicate-split READ
    // (Spark's Derby writer maps strings to CLOB, which range predicates
    // can't compare against — a VARCHAR column is what real schemas have)
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE names_split (id BIGINT, name VARCHAR(64))")
      Seq(1L -> "'alpha'", 2L -> "'bravo'", 3L -> "'mike'",
        4L -> "'november'", 5L -> "'zulu'", 6L -> "NULL").foreach {
        case (id, n) =>
          st.executeUpdate(s"INSERT INTO names_split VALUES ($id, $n)")
      }
    } finally conn.close()
    val preds = Jdbc.stringRangePredicates("name", Seq("g", "s"))
    assert(preds.size == 3)
    val back = Jdbc.readPredicates(spark, url, "names_split", preds, props)
    // disjoint + covering: every row exactly once, NULL included
    assert(back.rdd.getNumPartitions == 3)
    assert(back.select("id").as[Long].collect().sorted.toSeq == (1L to 6L))
    // each range holds what it should
    val perPart = back.select(spark_partition_id(), col("name"))
      .as[(Int, String)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(perPart(0) == Set("alpha", "bravo", null))
    assert(perPart(1) == Set("mike", "november"))
    assert(perPart(2) == Set("zulu"))
  }

  test("teraGen is deterministic; teraSort output validates clean") {
    val data = Tera.gen(spark, 5000, parts = 8)
    assert(data.count() == 5000)
    // deterministic across invocations
    assert(Tera.gen(spark, 100, 4).except(Tera.gen(spark, 100, 2)).isEmpty)
    val v = Tera.validate(Tera.sort(data)).head()
    assert(v.getLong(0) == 5000L) // n_records
    assert(v.getLong(1) == 0L)    // no order violations
    // checksum invariant: validate(sorted) == validate(generated order)
    val v2 = Tera.validate(data).head()
    assert(v.getLong(2) == v2.getLong(2))
  }

  test("validate counts violations in an unsorted dataset") {
    val unsorted = Tera.gen(spark, 2000, 4)
    val v = Tera.validate(unsorted.repartition(4)).head()
    assert(v.getLong(1) > 0L)
  }

  test("genSort is bit-parity with the reference Gray-sort generator") {
    def hexOf(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
    // row 0's key is the LCG's c constant — "JimGrayRIP" in ASCII
    val rows = Tera.genSort(spark, 10, 3)
      .orderBy("row_id").collect()
    assert(hexOf(rows(0).getAs[Array[Byte]]("key")) ==
      "4a696d47726179524950")
    assert(new String(rows(0).getAs[Array[Byte]]("key"), "US-ASCII") ==
      "JimGrayRIP")
    // reference-derived pins (compiled reference generator, rows 1-4)
    assert(hexOf(rows(1).getAs[Array[Byte]]("key")) ==
      "95e0e48262b3edfe0447" && rows(1).getAs[Long]("crc32") == 2783534542L)
    assert(hexOf(rows(4).getAs[Array[Byte]]("key")) ==
      "5c90ab38ae52896215d7" && rows(4).getAs[Long]("crc32") == 3388001003L)
    // record structure: value = bytes 10..99 of the reference format
    val v0 = rows(0).getAs[Array[Byte]]("value")
    assert(v0.length == 90)
    assert((v0(0), v0(1)) == (0x00.toByte, 0x11.toByte)) // break
    assert(new String(v0.slice(2, 34), "US-ASCII") == "0" * 32) // row 0 hex
    assert(v0.slice(34, 38).toSeq ==
      Seq(0x88.toByte, 0x99.toByte, 0xAA.toByte, 0xBB.toByte))
    assert(v0.slice(86, 90).toSeq ==
      Seq(0xCC.toByte, 0xDD.toByte, 0xEE.toByte, 0xFF.toByte))
    // a task seeded mid-stream (skipAhead) produces the same records as
    // the sequential stream: rows 500+ pinned from the reference run
    val off = Tera.genSort(spark, 505, 1).filter(col("row_id") >= 500)
      .orderBy("row_id").collect()
    val off2 = Tera.genSort(spark, 505, 101).filter(col("row_id") >= 500)
      .orderBy("row_id").collect()
    assert(hexOf(off(0).getAs[Array[Byte]]("key")) ==
      "adb0a4c39ab062df7d86" && off(0).getAs[Long]("crc32") == 158706916L)
    assert(hexOf(off(3).getAs[Array[Byte]]("key")) ==
      "7b6c3300257104664435" && off(3).getAs[Long]("crc32") == 391932298L)
    assert(off.map(r => hexOf(r.getAs[Array[Byte]]("key"))).toSeq ==
      off2.map(r => hexOf(r.getAs[Array[Byte]]("key"))).toSeq)
  }

  test("fixed-width records slice correctly") {
    val dir = tmpDir()
    val payload = (0 until 10).map(i => f"k$i%03d${"v" * 6}").mkString // 10-byte records
    Files.write(java.nio.file.Paths.get(dir, "rec.bin"), payload.getBytes("UTF-8"))
    val recs = FixedWidth.readKv(spark, dir, width = 10, keyWidth = 4)
    assert(recs.count() == 10)
    val first = recs.orderBy("idx").select("key", "value").head()
    assert(first.getString(0) == "k000" && first.getString(1) == "vvvvvv")
  }

  test("kvtext source parses tab-separated key/value lines") {
    val dir = tmpDir()
    Files.write(java.nio.file.Paths.get(dir, "kv.txt"),
      "alpha\t1\nbeta\t2\n".getBytes("UTF-8"))
    val got = Graft.source(spark, dir, "kvtext")
      .as[(String, String)].collect().toSet
    assert(got == Set(("alpha", "1"), ("beta", "2")))
  }

  test("text source reads lines; small files pack into few partitions") {
    val dir = tmpDir()
    (0 until 20).foreach { i =>
      Files.write(java.nio.file.Paths.get(dir, s"f$i.txt"), s"line$i\n".getBytes)
    }
    val df = Graft.source(spark, dir, "text")
    assert(df.count() == 20)
    // CombineFileInputFormat parity: Spark bin-packs tiny files
    assert(df.rdd.getNumPartitions < 20)
  }

  test("xml-tag records split on begin/end tags across lines") {
    val dir = tmpDir()
    Files.write(java.nio.file.Paths.get(dir, "recs.xml"),
      "<rec id=\"1\">alpha\nbeta</rec>junk<rec>gamma</rec>\n".getBytes("UTF-8"))
    val got = Graft.xmlRecords(spark, dir, "rec").as[String].collect().toSeq
    assert(got == Seq("<rec id=\"1\">alpha\nbeta</rec>", "<rec>gamma</rec>"))
  }

  test("bucketed sink + lookup by key prunes buckets") {
    val df = (1 to 100).map(i => (i, s"v$i")).toDF("key", "value")
    Graft.sinkBucketed(df, "mapfile_t", buckets = 4, key = "key")
    val hit = spark.table("mapfile_t").filter(col("key") === 42)
    assert(hit.select("value").as[String].head() == "v42")
  }

  test("compact rewrites many small files into few") {
    val in = tmpDir() + "/in"
    val out = tmpDir() + "/out"
    val df = (1 to 1000).toDF("v")
    df.repartition(20).write.parquet(in)
    val nIn = new java.io.File(in).listFiles().count(_.getName.startsWith("part-"))
    assert(nIn == 20)
    val nOut = Compact.compact(spark, in, out)
    assert(nOut == 1)
    assert(spark.read.parquet(out).count() == 1000)
  }

  test("syncDiff catches a same-length modification -update would skip") {
    val root = tmpDir()
    val (src, dst, snap) = (s"$root/src", s"$root/dst", s"$root/snap.lst")
    def put(name: String, body: String, mtime: Long = -1): Unit = {
      val f = new java.io.File(src, name)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
      if (mtime > 0) { f.setLastModified(mtime); () }
    }
    put("x.txt", "aaaa\n")
    put("y.txt", "bbbb\n")
    Compact.sync(spark, src, dst)
    Compact.snapshot(spark, src, snap)
    // same LENGTH, different content + mtime: the size-only -update
    // compare is blind to this; the snapshot diff sees the mtime move
    put("x.txt", "cccc\n", mtime = System.currentTimeMillis() + 5000)
    val (cu, _) = Compact.sync(spark, src, dst)
    assert(cu == 0, "-update (size compare) is expected to miss this")
    val (cd, dd, kd, fb) = Compact.syncDiff(spark, src, dst, snap)
    assert((cd, dd, kd, fb) == ((1L, 0L, 1L, false)))
    assert(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dst, "x.txt").toPath), "UTF-8") == "cccc\n")
  }

  test("syncAtomic is all-or-nothing and create-only") {
    val root = tmpDir()
    val (src, dst) = (s"$root/src", s"$root/dst")
    new java.io.File(src).mkdirs()
    java.nio.file.Files.write(new java.io.File(src, "a.txt").toPath,
      "1\n2\n".getBytes("UTF-8"))
    assert(Compact.syncAtomic(spark, src, dst) == 1L)
    assert(spark.read.textFile(dst).count() == 2L)
    intercept[IllegalArgumentException] {
      Compact.syncAtomic(spark, src, dst)
    }
    // no staging residue next to the target
    assert(!new java.io.File(root).listFiles()
      .exists(_.getName.contains("__staging")))
  }

  test("partitionBy sink writes MultipleOutputs-style dynamic paths") {
    val dir = tmpDir() + "/out"
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("id", "grp")
    Graft.sink(df, dir, partitionBy = Seq("grp"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 3)
    val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("grp="))
    assert(dirs.toSet == Set("grp=a", "grp=b"))
  }
}
