package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** unix-sort(1)-style `-k` sort-spec compiler, parity with the reference's
  * KeyFieldBasedComparator (reference: hadoop-mapreduce-client-core
  * .../lib/partition/KeyFieldBasedComparator.java:53, spec model
  * .../lib/partition/KeyFieldHelper.java:43-55).
  *
  * Spec: whitespace-separated `-kPOS1[,POS2][FLAGS]` parts; POS are 1-based
  * field indices; flags `n` (numeric compare) and `r` (reverse) may trail
  * either POS. Compiles to `Seq[Column]` for `orderBy` /
  * `repartitionByRange` — the sort itself is Spark's distributed range sort.
  */
object KeyFieldSpec {

  final case class KeyPart(start: Int, end: Int, numeric: Boolean, reverse: Boolean)

  private val Part = """-k(\d+)(n?r?n?)(?:,(\d+)(n?r?n?))?""".r

  def parse(spec: String): Seq[KeyPart] =
    spec.trim.split("\\s+").toSeq.filter(_.nonEmpty).map {
      case Part(p1, f1, p2, f2) =>
        val flags = Option(f1).getOrElse("") + Option(f2).getOrElse("")
        val start = p1.toInt
        val end = Option(p2).map(_.toInt).getOrElse(start)
        KeyPart(start, end, flags.contains('n'), flags.contains('r'))
      case other => throw new IllegalArgumentException(s"bad -k spec part: $other")
    }

  /** Compile against named columns (field i = cols(i-1)) instead of an array. */
  def orderColumnsNamed(cols: Seq[Column], spec: String): Seq[Column] =
    parse(spec).flatMap { kp =>
      (kp.start to kp.end).map { i =>
        val f0 = cols(i - 1)
        val f = if (kp.numeric) f0.cast("double") else f0
        if (kp.reverse) f.desc else f.asc
      }
    }
}
