package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.graftbridge.FooterSchema

import graft.TestSpark
import graft.sources.TxLog

/** The driver-side footer schema is exactly the schema Spark's own
  * inference reads, and steps aside wherever Spark would read more. */
class FooterSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // the project's sf0.01 test tables, under the home dir (TESTDATA.md)
  private val sf = s"${sys.props("user.home")}/testdata/sf0.01"

  private def freshDir(): String = {
    val d = TestSpark.tmpDir("footer").toFile
    d.delete()
    d.getAbsolutePath
  }

  test("equals Spark's inferred schema for every sf0.01 table") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    val tables = new java.io.File(sf).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted
    assert(tables.exists(_.endsWith("events.parquet")), "events is covered")
    tables.foreach { p =>
      assert(FooterSchema.of(spark, Seq(p)) ===
        Some(spark.read.parquet(p).schema), p)
    }
  }

  test("equals Spark's inferred schema for writeBatch dirs") {
    val dir = freshDir()
    val a = TxLog.writeBatch(Seq((1L, "a", 1.5)).toDF("k", "s", "d")
      .repartition(3), dir, "b1")
    val b = TxLog.writeBatch(Seq((2L, "b", 2.5)).toDF("k", "s", "d"), dir, "b10")
    assert(FooterSchema.of(spark, Seq(a)) === Some(spark.read.parquet(a).schema))
    assert(FooterSchema.of(spark, Seq(b, a)) ===
      Some(spark.read.parquet(b, a).schema))
    assert(FooterSchema.read(spark, b, a).as[(Long, String, Double)]
      .collect().sorted.toSeq === Seq((1L, "a", 1.5), (2L, "b", 2.5)))
    TxLog.destroy(dir)
  }

  test("answers None where Spark would read more than one footer") {
    val dir = freshDir()
    val df = Seq((1, "x"), (2, "y")).toDF("id", "p")
    df.write.partitionBy("p").parquet(s"$dir/hive")
    assert(FooterSchema.of(spark, Seq(s"$dir/hive")) === None,
      "a Hive-partitioned dir")
    new java.io.File(s"$dir/empty").mkdirs()
    assert(FooterSchema.of(spark, Seq(s"$dir/empty")) === None, "an empty dir")
    df.write.parquet(s"$dir/flat")
    assert(FooterSchema.of(spark, Seq(s"$dir/flat")).isDefined)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(FooterSchema.of(spark, Seq(s"$dir/flat")) === None,
      "under mergeSchema")
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert(FooterSchema.of(spark, Seq(s"$dir/missing")) === None,
      "a missing path keeps Spark's error")
    TxLog.destroy(dir)
  }
}
