package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Checkpoints

/** Byte-pair-encoding vocabulary induction over a document corpus — the
  * tokenizer-training step of an LLM data pipeline.
  *
  * Scale shape: the corpus reduces ONCE to a distinct word-frequency table
  * (the classic trick — pair statistics over N documents equal pair
  * statistics over the much smaller weighted vocabulary), and every merge
  * round is one aggregation over that words table plus a driver-side argmax
  * of a single row. The corpus itself is never re-scanned after the first
  * reduction, so k merge rounds cost k small-table shuffles, not k corpus
  * passes.
  *
  * Merge application is the canonical greedy left-to-right scan ("a a a a"
  * + merge (a,a) → "aa aa"), done in a typed per-word kernel — the words
  * table is vocabulary-sized, so the kernel is a per-row array walk, not a
  * corpus pass.
  */
object BpeOps {

  /** Corpus → distinct word-frequency table: (word, cnt). One shuffle.
    * Delegates to [[MapOps.wordCount]] so "what is a word" has exactly one
    * definition engine-wide (q_wordcount and BPE must never disagree). */
  def wordCounts(docs: DataFrame, textCol: Column): DataFrame =
    MapOps.wordCount(docs.select(textCol.as("text")), "text")

  /** Adjacent-pair counts over a symbolized words table (syms: array of
    * symbol strings): (pair "x y", n = Σ word cnt). Overlapping run
    * adjacencies count individually, the standard BPE statistic. */
  def pairCounts(words: DataFrame, symsCol: String = "syms"): DataFrame =
    words
      .filter(size(col(symsCol)) >= 2)
      .select(col("cnt"),
        explode(transform(sequence(lit(0), size(col(symsCol)) - 2),
          i => concat(col(symsCol)(i), lit(" "), col(symsCol)(i + 1))))
          .as("pair"))
      .groupBy("pair").agg(sum(col("cnt")).as("n"))

  /** Canonical greedy left-to-right merge of one (l, r) pair in a symbol
    * sequence: each match consumes both symbols before the scan continues. */
  private def applyMerge(symsIn: Seq[String], l: String, r: String): Seq[String] = {
    // array-backed walk: a List input would make syms(i)/length linear and
    // the kernel quadratic on long unbroken runs (URLs, base64, CJK)
    val syms = symsIn.toArray
    val out = new Array[String](syms.length)
    var i = 0
    var n = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out(n) = l + r
        i += 2
      } else {
        out(n) = syms(i)
        i += 1
      }
      n += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      java.util.Arrays.copyOf(out, n))
  }

  private def symbolized(docs: DataFrame, textCol: Column): DataFrame =
    wordCounts(docs, textCol).withColumn("syms", split(col("word"), ""))

  /** Round-1 pair statistics straight off the corpus (the SQL-expressible
    * slice of training, used by the oracle gate). */
  def corpusPairCounts(docs: DataFrame, textCol: Column): DataFrame =
    pairCounts(symbolized(docs, textCol))

  /** Train `k` BPE merges. Returns (step, left, right, pair_count) in merge
    * order. Each round: aggregate pairs over the words table, take the
    * (count desc, pair asc) argmax on the driver (ONE row crosses), apply
    * the merge with the greedy kernel, and pin the result to keep the
    * iterated plan flat. The argmax is an aggregation over pairs, so it
    * cannot ride the pin job; nothing stays pinned on return, and
    * `k <= 0` starts no job. */
  def trainMerges(docs: DataFrame, textCol: Column, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    if (k <= 0) return merges.toSeq.toDF("step", "left", "right", "pair_count")
    var words = Checkpoints.pin(symbolized(docs, textCol)
      .select(col("cnt"), col("syms")).as[(Long, Seq[String])])._1
    try {
      var step = 0
      var exhausted = false
      while (step < k && !exhausted) {
        val top = pairCounts(words.toDF("cnt", "syms"))
          .orderBy(col("n").desc, col("pair"))
          .limit(1).as[(String, Long)].collect()
        if (top.isEmpty) exhausted = true
        else {
          val (pair, n) = top.head
          val Array(leftSym, rightSym) = pair.split(" ", 2)
          step += 1
          merges += ((step, leftSym, rightSym, n))
          val next = Checkpoints.pin(words
            .map { case (cnt, syms) => (cnt, applyMerge(syms, leftSym, rightSym)) })._1
          Checkpoints.release(words)
          words = next
        }
      }
    } finally Checkpoints.release(words)
    merges.toSeq.toDF("step", "left", "right", "pair_count")
  }

  /** Tokenize the corpus with a learned merge list: apply the merges in
    * order to every distinct word, then emit weighted token counts —
    * (token, n). The merge list is driver-sized (a vocabulary), the corpus
    * again reduces through the words table, and all k merges apply in ONE
    * kernel pass per word. */
  def tokenCounts(docs: DataFrame, textCol: Column,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    symbolized(docs, textCol)
      .select(col("cnt"), col("syms")).as[(Long, Seq[String])]
      .flatMap { case (cnt, syms) =>
        merges.foldLeft(syms) { case (s, (l, r)) => applyMerge(s, l, r) }
          .map(tok => (tok, cnt))
      }
      .toDF("token", "cnt")
      .groupBy("token").agg(sum(col("cnt")).as("n"))
  }
}
