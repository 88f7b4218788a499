package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.TestSpark

/** The object-store-shaped read path: a non-`file:` scheme bound via
  * `fs.<scheme>.impl`, resolved by the reader stack like any cloud
  * connector. */
class GraftFsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("scheme resolves to the registered FileSystem impl") {
    GraftFileSystem.register(spark)
    val fs = FileSystem.get(
      java.net.URI.create("graftfs:///"),
      spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[GraftFileSystem])
    assert(fs.getScheme == "graftfs")
  }

  test("round-trip: write file://, read graftfs:// — identical rows") {
    GraftFileSystem.register(spark)
    val out = TestSpark.tmpDir("graft_fs_scheme_spec")
      .resolve("out").toString
    val df = (1L to 100L).toDF("id").withColumn("sq",
      org.apache.spark.sql.functions.col("id") * org.apache.spark.sql.functions.col("id"))
    df.write.mode("overwrite").parquet(out)
    val viaScheme = spark.read.parquet(GraftFileSystem.uri(out))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(viaScheme.toSeq == (1L to 100L).map(i => (i, i * i)))
  }

  test("writes go through the scheme too") {
    GraftFileSystem.register(spark)
    val out = GraftFileSystem.uri(TestSpark.tmpDir(
      "graft_fs_scheme_write").resolve("out").toString)
    (1L to 10L).toDF("id").write.mode("overwrite").parquet(out)
    assert(spark.read.parquet(out).count() == 10)
    val fs = FileSystem.get(java.net.URI.create(out),
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(out)))
  }
}
