package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import graft.TestSpark

/** Footer-level proof behind q_parquet_bloom: the
  * `parquet.bloom.filter.enabled#col` write option must actually record a
  * bloom filter in each row group's column chunk metadata (offset >= 0), and
  * leave other columns bloom-free. The gate checks content; this checks the
  * layout artifact a point-lookup reader would prune with. */
class ParquetBloomSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def bloomOffsets(dir: String): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val part = fs.listStatus(new Path(dir))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(part, conf))
    try {
      val block = reader.getFooter.getBlocks.get(0)
      import scala.jdk.CollectionConverters._
      block.getColumns.asScala
        .map(c => c.getPath.toDotString -> c.getBloomFilterOffset).toMap
    } finally reader.close()
  }

  test("bloom-enabled column records a filter; others do not") {
    val dir = TestSpark.tmpDir("graft-bloom").toString
    Seq.tabulate(1000)(i => (i.toLong, s"k$i"))
      .toDF("id", "name")
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#id", "true")
      .option("parquet.bloom.filter.expected.ndv#id", "1000")
      .parquet(dir)
    val offsets = bloomOffsets(dir)
    assert(offsets("id") >= 0, s"bloom filter missing for id: $offsets")
    assert(offsets("name") == -1, s"unexpected bloom for name: $offsets")
  }
}
