package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Read interop against containers authored by the GENUINE Hadoop writers
  * — MapFile, BloomMapFile (same dir layout + bloom sidecar), TFile. */
class LegacyContainersSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val conf = spark.sparkContext.hadoopConfiguration
  private val kvs = (1 to 50).map(i => (f"k$i%04d", s"v$i"))

  test("readMapFile scans MapFile and BloomMapFile dirs") {
    import org.apache.hadoop.io.{BloomMapFile, MapFile, Text}
    val base = TestSpark.tmpDir("graft-legacy").toString
    val mfDir = new org.apache.hadoop.fs.Path(s"$base/mf")
    val w = new MapFile.Writer(conf, mfDir,
      MapFile.Writer.keyClass(classOf[Text]),
      MapFile.Writer.valueClass(classOf[Text]))
    kvs.foreach { case (k, v) => w.append(new Text(k), new Text(v)) }
    w.close()
    val got = LegacyContainers.readMapFile(spark, mfDir.toString)
      .as[(String, String)].collect().sorted.toSeq
    assert(got == kvs)
    // BloomMapFile: identical layout + a bloom sidecar the scan ignores
    val bfDir = new org.apache.hadoop.fs.Path(s"$base/bf")
    val bw = new BloomMapFile.Writer(conf, bfDir,
      MapFile.Writer.keyClass(classOf[Text]),
      MapFile.Writer.valueClass(classOf[Text]))
    kvs.foreach { case (k, v) => bw.append(new Text(k), new Text(v)) }
    bw.close()
    val gotBloom = LegacyContainers.readMapFile(spark, bfDir.toString)
      .as[(String, String)].collect().sorted.toSeq
    assert(gotBloom == kvs)
  }

  test("readTFile scans multiple TFiles as parallel whole-file tasks") {
    import org.apache.hadoop.io.file.tfile.TFile
    val base = TestSpark.tmpDir("graft-tfile").toString
    val dir = new org.apache.hadoop.fs.Path(base)
    val fs = dir.getFileSystem(conf)
    kvs.grouped(25).zipWithIndex.foreach { case (part, i) =>
      val os = fs.create(new org.apache.hadoop.fs.Path(dir, s"part-$i.tfile"))
      val tw = new TFile.Writer(os, 64 * 1024, TFile.COMPRESSION_NONE,
        TFile.COMPARATOR_MEMCMP, conf)
      part.foreach { case (k, v) =>
        tw.append(k.getBytes("UTF-8"), v.getBytes("UTF-8"))
      }
      tw.close(); os.close()
    }
    val got = LegacyContainers.readTFile(spark, s"$base/part-*.tfile")
      .as[(String, String)].collect().sorted.toSeq
    assert(got == kvs)
    // non-matching literal path: globStatus yields null, reader yields empty
    assert(LegacyContainers.readTFile(spark, s"$base/absent.tfile").isEmpty)
  }

  test("readTFile streams a large container (lazy, survives early limit)") {
    import org.apache.hadoop.io.file.tfile.TFile
    val base = TestSpark.tmpDir("graft-tfile-big").toString
    val dir = new org.apache.hadoop.fs.Path(base)
    val fs = dir.getFileSystem(conf)
    val os = fs.create(new org.apache.hadoop.fs.Path(dir, "big.tfile"))
    val tw = new TFile.Writer(os, 64 * 1024, TFile.COMPRESSION_NONE,
      TFile.COMPARATOR_MEMCMP, conf)
    val payload = "x" * 1000
    val n = 100000 // ~100 MB decoded — would be painful to buffer per task
    (0 until n).foreach { i =>
      tw.append(f"k$i%08d".getBytes("UTF-8"), s"$i:$payload".getBytes("UTF-8"))
    }
    tw.close(); os.close()
    val df = LegacyContainers.readTFile(spark, s"$base/big.tfile")
    // full-scan aggregate never materializes the container in one buffer
    val agg = df.selectExpr("count(*) c", "min(key) mn", "max(key) mx")
      .as[(Long, String, String)].head()
    assert(agg == ((n.toLong, "k00000000", f"k${n - 1}%08d")))
    // early-terminating consumer: task-completion listener closes the reader
    assert(df.limit(3).count() == 3)
  }

  test("readSequence and readMapFile decode typed Writable K/V") {
    import org.apache.hadoop.io.{BytesWritable, IntWritable, LongWritable,
      MapFile, SequenceFile, Text}
    val base = TestSpark.tmpDir("graft-typed").toString
    // SequenceFile: IntWritable keys, Text values (the TestJoinDatamerge shape)
    val sf = new org.apache.hadoop.fs.Path(s"$base/ints.seq")
    val w = SequenceFile.createWriter(conf,
      SequenceFile.Writer.file(sf),
      SequenceFile.Writer.keyClass(classOf[IntWritable]),
      SequenceFile.Writer.valueClass(classOf[Text]))
    (1 to 20).foreach(i => w.append(new IntWritable(i), new Text(s"v$i")))
    w.close()
    val ints = LegacyContainers.readSequence(spark, sf.toString,
      classOf[IntWritable], classOf[Text])
    assert(ints.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("key", "integer"), ("value", "string")))
    assert(ints.as[(Int, String)].collect().sorted.toSeq ==
      (1 to 20).map(i => (i, s"v$i")))
    // SequenceFile: LongWritable keys, BytesWritable values (binary payloads)
    val bf = new org.apache.hadoop.fs.Path(s"$base/bytes.seq")
    val wb = SequenceFile.createWriter(conf,
      SequenceFile.Writer.file(bf),
      SequenceFile.Writer.keyClass(classOf[LongWritable]),
      SequenceFile.Writer.valueClass(classOf[BytesWritable]))
    (1L to 5L).foreach(i =>
      wb.append(new LongWritable(i), new BytesWritable(Array.fill(3)(i.toByte))))
    wb.close()
    val bytes = LegacyContainers.readSequence(spark, bf.toString,
      classOf[LongWritable], classOf[BytesWritable])
      .as[(Long, Array[Byte])].collect().sortBy(_._1)
    assert(bytes.map(_._1).toSeq == (1L to 5L))
    assert(bytes.forall { case (i, b) => b.toSeq == Array.fill(3)(i.toByte).toSeq })
    // MapFile with IntWritable VALUES via the parameterized read
    val mfDir = new org.apache.hadoop.fs.Path(s"$base/mf-int")
    val mw = new MapFile.Writer(conf, mfDir,
      MapFile.Writer.keyClass(classOf[Text]),
      MapFile.Writer.valueClass(classOf[IntWritable]))
    (1 to 9).foreach(i => mw.append(new Text(f"k$i%02d"), new IntWritable(i * 10)))
    mw.close()
    val mf = LegacyContainers.readMapFile(spark, mfDir.toString,
      classOf[Text], classOf[IntWritable])
    assert(mf.as[(String, Int)].collect().sorted.toSeq ==
      (1 to 9).map(i => (f"k$i%02d", i * 10)))
  }

  test("writeMapFile: engine-written containers satisfy the GENUINE Hadoop reader") {
    import org.apache.hadoop.io.{MapFile, Text}
    val base = TestSpark.tmpDir("graft-mfw").toString
    val df = (1 to 200).map(i => (f"k$i%04d", s"v$i")).toDF("key", "value")
      .repartition(5) // scrambled input: the writer must range-sort it
    LegacyContainers.writeMapFile(df, s"$base/out", bloom = true)
    // (a) engine read-back over the part glob
    val got = LegacyContainers.readMapFile(spark, s"$base/out/part-r-*")
      .as[(String, String)].collect().sorted.toSeq
    assert(got == (1 to 200).map(i => (f"k$i%04d", s"v$i")).sorted)
    // (b) a genuine Hadoop MapFile.Reader can point-look-up through the
    // index — the interop claim a legacy consumer actually depends on
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
    val parts = fs.globStatus(new org.apache.hadoop.fs.Path(s"$base/out/part-r-*"))
      .map(_.getPath).sortBy(_.getName)
    assert(parts.nonEmpty)
    def lookup(k: String): Option[String] = parts.iterator.flatMap { p =>
      val r = new MapFile.Reader(p, conf)
      try Option(r.get(new Text(k), new Text())).map(_.toString)
      finally r.close()
    }.toSeq.headOption
    assert(lookup("k0001") === Some("v1"))
    assert(lookup("k0137") === Some("v137"))
    assert(lookup("nope") === None)
    // (c) bloom sidecar written alongside data + index in every part
    parts.foreach { p =>
      val members = fs.listStatus(p).map(_.getPath.getName).toSet
      assert(Set("data", "index", "bloom").subsetOf(members),
        s"$p members: $members")
    }
    // (d) global order across parts: part N's max key < part N+1's min key
    val bounds = parts.toSeq.map { p =>
      val ks = LegacyContainers.readMapFile(spark, p.toString)
        .as[(String, String)].collect().map(_._1)
      (ks.min, ks.max)
    }
    bounds.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo, "range-partitioned order")
      case _ =>
    }
    // (e) commit protocol: the temp tree is gone after a successful job —
    // attempts wrote under _temporary and the driver promoted + cleaned,
    // so a concurrently-running reader's part-r-* glob never saw partials
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/out/_temporary")),
      "_temporary must be cleaned up after commit")
  }
}
