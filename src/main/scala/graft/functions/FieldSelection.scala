package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Unix-cut-style field selection, parity with the reference's
  * FieldSelectionHelper spec language (reference:
  * hadoop-mapreduce-client-core .../lib/fieldsel/FieldSelectionHelper.java:28-60;
  * mapper .../FieldSelectionMapper.java:61).
  *
  * Spec: `keyFields ':' valueFields` where each side is a comma list of
  * 0-based single indices (`4`), closed ranges (`1-3`), or open ranges (`7-`).
  * Selected fields are re-joined with the separator.
  *
  * Spark-first: compiles the spec to array expressions over `split(col, sep)`
  * — fully codegen'd, no UDF.
  */
object FieldSelection {

  sealed trait Sel
  final case class Single(i: Int) extends Sel
  final case class Range(from: Int, to: Int) extends Sel // inclusive
  final case class OpenRange(from: Int) extends Sel

  final case class Spec(keyFields: Seq[Sel], valueFields: Seq[Sel])

  def parse(spec: String): Spec = {
    val (keyPart, valPart) = spec.indexOf(':') match {
      case -1 => (spec, "")
      case i  => (spec.substring(0, i), spec.substring(i + 1))
    }
    Spec(parseList(keyPart), parseList(valPart))
  }

  private def parseList(s: String): Seq[Sel] =
    s.split(",").toSeq.filter(_.nonEmpty).map { tok =>
      if (tok.endsWith("-")) OpenRange(tok.dropRight(1).toInt)
      else if (tok.contains("-")) {
        val Array(a, b) = tok.split("-", 2)
        Range(a.toInt, b.toInt)
      } else Single(tok.toInt)
    }

  /** One selector -> array-of-fields column (0-based spec, 1-based index).
    * try_element_at: ANSI mode (Spark 4 default) makes plain element_at
    * THROW on out-of-range indices; the reference simply skips absent
    * fields, and the null is dropped by array_join below. */
  private def selArray(fields: Column, sel: Sel): Column = sel match {
    case Single(i)    => array(try_element_at(fields, lit(i + 1)))
    case Range(a, b)  => slice(fields, a + 1, b - a + 1)
    case OpenRange(a) => slice(fields, lit(a + 1), greatest(size(fields) - a, lit(0)))
  }

  private def joinSels(fields: Column, sels: Seq[Sel], sep: String): Column =
    if (sels.isEmpty) lit("")
    else array_join(concat(sels.map(selArray(fields, _)): _*), sep)

  /** Apply a field-selection spec to a line column; returns (key, value) columns. */
  def select(line: Column, spec: String, sep: String = "\t"): (Column, Column) = {
    val s = parse(spec)
    val fields = split(line, java.util.regex.Pattern.quote(sep))
    (joinSels(fields, s.keyFields, sep), joinSels(fields, s.valueFields, sep))
  }
}
