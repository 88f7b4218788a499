package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic text corpus generator, parity with the
  * reference's RandomWriter / RandomTextWriter load generators (reference:
  * hadoop-mapreduce-examples .../examples/RandomTextWriter.java:77,
  * RandomWriter.java:78). `spark.range` provides the split-per-task row
  * ranges; all randomness is hash-derived from the row id so any run (and
  * any engine) regenerates the identical corpus. */
object TextGen {

  private val defaultVocab = Seq(
    "data", "spark", "table", "row", "batch", "merge", "scan", "filter",
    "join", "group", "sort", "hash", "value", "key", "agg", "window",
    "stream", "query", "vector", "shuffle")

  /** nDocs documents of wordsPerDoc hash-picked vocab words:
    * (doc_id, text). Word picks are md5-derived (portable hash), so any
    * engine regenerates the identical corpus:
    * word(i,j) = vocab[hex(md5(i ':' j))[0:6] as int % |vocab|]. */
  def corpus(
      spark: SparkSession,
      nDocs: Long,
      wordsPerDoc: Int,
      vocab: Seq[String] = defaultVocab,
      parts: Int = 32): DataFrame = {
    val v = array(vocab.map(lit): _*)
    spark.range(0, nDocs, 1, parts).select(
      col("id").as("doc_id"),
      concat_ws(" ",
        transform(
          sequence(lit(0), lit(wordsPerDoc - 1)),
          i => element_at(v,
            (pmod(
              conv(substring(md5(concat(col("id").cast("string"), lit(":"),
                i.cast("string"))), 1, 6), 16, 10).cast("long"),
              lit(vocab.size.toLong)) + 1).cast("int"))))
        .as("text"))
  }

  /** The default vocab as a SQL list literal, for oracle queries. */
  def vocabSqlList: String =
    defaultVocab.map(w => s"'$w'").mkString("[", ",", "]")
}
