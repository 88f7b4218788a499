package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Round-trip through genuine Avro object containers (avro-mapred formats,
  * deflate codec) — typed columns, nullables, binary payloads. */
class AvroSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("writeAvro/readAvro round-trip typed columns including nulls and bytes") {
    val base = TestSpark.tmpDir("graft-avro").toString
    val df = spark.createDataFrame(Seq(
      (1L, "alpha", 10, 1.5, true, Array[Byte](1, 2, 3)),
      (2L, "beta", 20, -2.25, false, Array[Byte]()),
      (3L, "gamma", 30, 0.0, true, Array[Byte](-1))))
      .toDF("id", "name", "n", "x", "flag", "payload")
      // exercise the nullable-union arm on a string column
      .withColumn("maybe",
        org.apache.spark.sql.functions.when($"id" =!= 2L, $"name"))
    Avro.writeAvro(df, s"$base/t1")
    val back = Avro.readAvro(spark, s"$base/t1/part-*.avro")
    assert(back.schema.map(f => (f.name, f.dataType.typeName)).toSet ==
      Set(("id", "long"), ("name", "string"), ("n", "integer"), ("x", "double"),
        ("flag", "boolean"), ("payload", "binary"), ("maybe", "string")))
    val rows = back.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
      r.getDouble(3), r.getBoolean(4), r.getAs[Array[Byte]](5).toSeq,
      Option(r.getString(6)))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, "alpha", 10, 1.5, true, Seq[Byte](1, 2, 3), Some("alpha")),
      (2L, "beta", 20, -2.25, false, Seq[Byte](), None),
      (3L, "gamma", 30, 0.0, true, Seq[Byte](-1), Some("gamma"))))
  }

  test("timestamp-micros and date logical types round-trip exactly") {
    val base = TestSpark.tmpDir("graft-avro-lt").toString
    val ts1 = java.sql.Timestamp.valueOf("2024-03-01 12:34:56.123456")
    val ts0 = java.sql.Timestamp.valueOf("1969-12-31 23:59:59.5") // pre-epoch
    val d1 = java.sql.Date.valueOf("2024-03-01")
    val df = spark.createDataFrame(Seq((1L, ts1, d1), (2L, ts0, d1)))
      .toDF("id", "ts", "day")
    Avro.writeAvro(df, s"$base/t")
    val back = Avro.readAvro(spark, s"$base/t/part-*.avro")
    assert(back.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("id", "long"), ("ts", "timestamp"), ("day", "date")))
    val rows = back.collect().map(r =>
      (r.getLong(0), r.getTimestamp(1), r.getDate(2).toString)).sortBy(_._1)
    assert(rows(0) == ((1L, ts1, "2024-03-01")))
    assert(rows(1) == ((2L, ts0, "2024-03-01")))
  }

  test("readAvro fails cleanly on an empty glob") {
    intercept[java.io.FileNotFoundException] {
      Avro.readAvro(spark, "/tmp/definitely-absent-*.avro")
    }
  }
}
