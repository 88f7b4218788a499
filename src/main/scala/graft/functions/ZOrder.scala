package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering for multi-dimensional data skipping.
  *
  * Sorting a table by one column gives tight per-file min/max stats on that
  * column only; interleaving the bits of two columns and range-sorting on
  * the result gives each output file a small RECTANGLE of (x,y) space, so
  * parquet min/max stats prune scans filtered on EITHER dimension. This is
  * the standard lakehouse layout trick; the reference's analogue is
  * total-order partitioning on a single composite key (reference:
  * hadoop-mapreduce-client-core .../lib/partition/TotalOrderPartitioner.java:50,
  * binary keys .../lib/partition/BinaryPartitioner.java:71).
  *
  * The z-value is built purely from shift/and/or column primitives, so it
  * stays inside whole-stage codegen — no UDF in the hot path.
  */
object ZOrder {

  /** N-dimensional Morton z-value over the low `bits` bits of each
    * integer column (Delta's `OPTIMIZE … ZORDER BY (a, b, c, …)` takes an
    * arbitrary column list for the same reason): bit `i` of dimension
    * `d` lands at interleave position `i * k + d` for `k` dimensions, so
    * each z-range covers a compact k-orthotope and per-file min/max
    * stats prune on EVERY listed dimension; for two dimensions x takes
    * the even bit positions and y the odd ones. Inputs are taken mod
    * 2^bits (non-negative) so out-of-range values wrap rather than
    * corrupt neighboring bits; `k * bits` must fit a signed long. */
  def zValueN(dims: Seq[Column], bits: Int): Column = {
    require(dims.size >= 2, s"zValueN needs >= 2 dimensions: ${dims.size}")
    require(bits >= 1 && dims.size * bits <= 62,
      s"${dims.size} dims x $bits bits must fit a long")
    val k = dims.size
    val wrapped = dims.map(d => pmod(d.cast("long"), lit(1L << bits)))
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      wrapped.zipWithIndex.foldLeft(acc) { case (a, (d, j)) =>
        a.bitwiseOR(
          shiftleft(shiftright(d, i).bitwiseAND(lit(1L)), i * k + j))
      }
    }
  }

  /** The DuckDB/ANSI-SQL rendering of [[zValueN]] — same interleave
    * positions, same non-negative wrap, kept beside the implementation
    * so oracle SQL and engine can never drift. */
  def zValueNSql(dims: Seq[String], bits: Int): String = {
    require(dims.size >= 2 && bits >= 1 && dims.size * bits <= 62)
    val m = 1L << bits
    val k = dims.size
    // non-negative mod to match zValueN's pmod: DuckDB's % keeps the
    // dividend's sign, which would diverge on negative inputs
    def wrap(c: String) = s"(((($c) % $m) + $m) % $m)"
    val terms = (0 until bits).flatMap { i =>
      dims.zipWithIndex.map { case (c, j) =>
        s"(((${wrap(c)} >> $i) & 1) << ${i * k + j})"
      }
    }
    terms.mkString("(", " | ", ")")
  }

  /** Cluster a table along the z-curve: range-partition + local sort on the
    * z-value, so each of the `n` output splits covers a compact (x,y)
    * rectangle. Write the result and both dimensions prune at scan time. */
  def cluster(df: DataFrame, x: Column, y: Column, bits: Int, n: Int): DataFrame = {
    val z = zValueN(Seq(x, y), bits)
    df.repartitionByRange(n, z).sortWithinPartitions(z)
  }
}
