package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, Cast, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{
  FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{NumericType, StructType}

/** Manifest-stats FILE SKIPPING at scan-planning time — the TxLog
  * snapshot scan's [[FileIndex]] (public precedent: Delta's
  * TahoeFileIndex; reference capability analog: BloomMapFile skipping
  * negative members before any data read, COMMON-IO/BloomMapFile.java).
  *
  * Spark hands every file-source scan's PUSHED data filters to its
  * FileIndex (`FileSourceScanExec.selectedPartitions` →
  * `listFiles(partitionFilters, dataFilters)`); the built-in
  * InMemoryFileIndex ignores them. This index instead folds each
  * numeric conjunct into a per-column [lo, hi] requirement and drops
  * every batch dir whose MANIFEST stats blob proves disjointness —
  * before a single parquet footer is opened. At 100 TB that is the
  * decisive scan optimization: a `WHERE id = 7` over a range-clustered
  * table plans O(matching files) instead of opening every footer, with
  * zero API change — any filter a user writes over `TxLog.read` or a
  * SQL catalog table prunes automatically, not just calls routed
  * through the explicit `readPruned` verb.
  *
  * Correctness contract is exactly `TxLog.statsOverlap`'s (threaded in
  * as `overlap` so there is ONE overlap grammar): no stats, no segment
  * for the column, or a non-numeric comparison → the file reads.
  * Unknown filter shapes contribute no bound (prune nothing). Strict
  * inequalities use closed bounds — conservative, never wrong. */
private[graftbridge] final class GraftStatsFileIndex(
    dirs: Seq[(Path, Array[FileStatus], Option[String])],
    overlap: (Option[String], String, Double, Double) => Boolean,
    mayContain: (Option[String], String, String) => Boolean)
    extends FileIndex {

  override def rootPaths: Seq[Path] = dirs.map(_._1)
  override def partitionSchema: StructType = StructType(Nil)
  override def refresh(): Unit = ()
  override def inputFiles: Array[String] =
    dirs.iterator.flatMap(_._2.iterator.map(_.getPath.toString)).toArray
  override def sizeInBytes: Long =
    dirs.iterator.flatMap(_._2.iterator.map(_.getLen)).sum

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val bounds = dataFilters.flatMap(GraftStatsFileIndex.boundsOf)
    // string point predicates check the blob's BLOOM segment (the
    // partitioned-ingest per-value blobs and statsWithBloom commits);
    // an IN-list keeps the file if ANY listed value may be present
    val strEqs = dataFilters.flatMap(GraftStatsFileIndex.strEqsOf)
    val kept =
      if (bounds.isEmpty && strEqs.isEmpty) dirs
      else dirs.filter { case (_, _, blob) =>
        bounds.forall { case (c, lo, hi) => overlap(blob, c, lo, hi) } &&
          strEqs.forall { case (c, vs) =>
            vs.exists(v => mayContain(blob, c, v))
          }
      }
    Seq(PartitionDirectory(InternalRow.empty,
      kept.iterator.flatMap(_._2).toArray))
  }
}

private[graftbridge] object GraftStatsFileIndex {
  private def litDouble(l: Literal): Option[Double] = l.value match {
    case null => None
    // TIMESTAMP literals carry MICROseconds; the stats blobs store
    // `cast(col AS double)` = SECONDS since epoch — convert here or a
    // pushed ts filter would compare 1e15-scale micros against
    // 1e9-scale second stats and prove false disjointness (a silent
    // wrong skip). DATE literals (day counts) stay un-derived: date
    // columns cast to no double, so their files carry no range segment
    // and never prune — deriving a day-count bound against an absent
    // segment is moot, and against a future convention it would be
    // wrong.
    case n: java.lang.Number
        if l.dataType == org.apache.spark.sql.types.TimestampType ||
          l.dataType == org.apache.spark.sql.types.TimestampNTZType =>
      Some(n.doubleValue() / 1e6)
    case _ if l.dataType == org.apache.spark.sql.types.DateType => None
    case n: java.lang.Number => Some(n.doubleValue())
    case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
    case _ => None
  }

  /** The column name under a numeric-to-numeric cast — but ONLY when
    * the cast is a loss-free WIDENING (`Cast.canUpCast`): the analyzer
    * promotes `int_col = 7.5` to `cast(int_col as double) = 7.5`, and a
    * widening cast is monotone, so the bound transfers to the stored
    * values. A NARROWING or overflowing cast (`cast(v as int) = 7` over
    * v ∈ [7.5, 7.9] matches every row after truncation) would make a
    * "disjoint" verdict a silent wrong answer — those shapes contribute
    * no bound and the file reads. Spark's UnwrapCastInBinaryComparison
    * strips most safe widenings before pushdown, so the casts that DO
    * reach the FileIndex are disproportionately the unsafe ones. */
  private def attr(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case c: Cast if c.dataType.isInstanceOf[NumericType] =>
      c.child match {
        case a: AttributeReference
            if a.dataType.isInstanceOf[NumericType] &&
              Cast.canUpCast(a.dataType, c.dataType) => Some(a.name)
        case _ => None
      }
    case _ => None
  }

  /** One pushed conjunct → the per-column closed [lo, hi] requirements
    * it implies; Nil for shapes the stats grammar cannot use. */
  def boundsOf(e: Expression): Seq[(String, Double, Double)] = e match {
    case And(l, r) => boundsOf(l) ++ boundsOf(r)
    case EqualTo(x, l: Literal) =>
      (attr(x), litDouble(l)) match {
        case (Some(c), Some(v)) => Seq((c, v, v)); case _ => Nil
      }
    case EqualTo(l: Literal, x) =>
      (attr(x), litDouble(l)) match {
        case (Some(c), Some(v)) => Seq((c, v, v)); case _ => Nil
      }
    case GreaterThan(x, l: Literal) =>
      (attr(x), litDouble(l)) match {
        case (Some(c), Some(v)) =>
          Seq((c, v, Double.PositiveInfinity)); case _ => Nil
      }
    case GreaterThanOrEqual(x, l: Literal) =>
      (attr(x), litDouble(l)) match {
        case (Some(c), Some(v)) =>
          Seq((c, v, Double.PositiveInfinity)); case _ => Nil
      }
    case LessThan(x, l: Literal) =>
      (attr(x), litDouble(l)) match {
        case (Some(c), Some(v)) =>
          Seq((c, Double.NegativeInfinity, v)); case _ => Nil
      }
    case LessThanOrEqual(x, l: Literal) =>
      (attr(x), litDouble(l)) match {
        case (Some(c), Some(v)) =>
          Seq((c, Double.NegativeInfinity, v)); case _ => Nil
      }
    case GreaterThan(l: Literal, x) => boundsOf(LessThan(x, l))
    case GreaterThanOrEqual(l: Literal, x) => boundsOf(LessThanOrEqual(x, l))
    case LessThan(l: Literal, x) => boundsOf(GreaterThan(x, l))
    case LessThanOrEqual(l: Literal, x) => boundsOf(GreaterThanOrEqual(x, l))
    case In(x, elems) if elems.nonEmpty &&
        elems.forall(_.isInstanceOf[Literal]) =>
      val vs = elems.map(e => litDouble(e.asInstanceOf[Literal]))
      (attr(x), if (vs.forall(_.isDefined)) Some(vs.flatten) else None) match {
        case (Some(c), Some(ds)) if ds.nonEmpty => Seq((c, ds.min, ds.max))
        case _ => Nil
      }
    case _ => Nil
  }

  /** STRING rendering of a pushed predicate's literal, exactly as the
    * blob writers rendered values (`col.cast("string")` — for a string
    * column the value itself; for an INTEGRAL column the decimal
    * digits, which cast-to-string renders identically on every engine,
    * so bucket/bloom segments on integer keys prune too). Fractional /
    * decimal / temporal literals return None: their string renderings
    * are engine- and scale-dependent ("7.0" vs "7"), and guessing
    * risks a false SKIP — those columns already prune through range
    * bounds. */
  private def litString(l: Literal): Option[String] = l.value match {
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
    case (_: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
          _: java.lang.Byte)
        if l.dataType.isInstanceOf[org.apache.spark.sql.types.IntegralType] =>
      Some(l.value.toString)
    case _ => None
  }

  /** One pushed conjunct → per-column string point-membership
    * requirements (col, candidate values); Nil for non-string shapes. */
  def strEqsOf(e: Expression): Seq[(String, Seq[String])] = e match {
    case And(l, r) => strEqsOf(l) ++ strEqsOf(r)
    case EqualTo(a: AttributeReference, l: Literal) =>
      litString(l).map(v => (a.name, Seq(v))).toSeq
    case EqualTo(l: Literal, a: AttributeReference) =>
      litString(l).map(v => (a.name, Seq(v))).toSeq
    case In(a: AttributeReference, elems) if elems.nonEmpty &&
        elems.forall(_.isInstanceOf[Literal]) =>
      val vs = elems.map(e => litString(e.asInstanceOf[Literal]))
      if (vs.forall(_.isDefined)) Seq((a.name, vs.flatten)) else Nil
    case _ => Nil
  }
}

/** The builder half: assemble a parquet scan over explicit batch dirs
  * whose [[FileIndex]] is stats-aware. Lives in the bridge package for
  * `Dataset.ofRows` (`private[sql]`), the same seam every Spark
  * connector library uses. */
object GraftScanBridge {
  /** A DataFrame over `dirEntries` (TxLog batch dirs or bare files,
    * each with its optional manifest stats blob) that SKIPS
    * stats-disjoint files at scan planning. `overlap` is the one shared
    * stats-blob grammar (TxLog.statsOverlap). `mergeSchema` unions the
    * footers (the addColumn / schema-evolution read). */
  def statsPrunedParquet(spark: SparkSession,
      dirEntries: Seq[(String, Option[String])],
      overlap: (Option[String], String, Double, Double) => Boolean,
      mayContain: (Option[String], String, String) => Boolean,
      mergeSchema: Boolean = false): DataFrame = {
    val classic =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val hconf = classic.sessionState.newHadoopConf()
    def listOne(entry: (String, Option[String]))
        : (Path, Array[FileStatus], Option[String]) = {
      val (d, blob) = entry
      val p = new Path(d)
      val fs = p.getFileSystem(hconf)
      val st = fs.getFileStatus(p)
      val parts =
        if (st.isDirectory)
          fs.listStatus(p).filter(s => s.isFile && {
            val n = s.getPath.getName
            n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
          })
        else Array(st)
      (p, parts, blob)
    }
    // parallel listing above a small-table threshold (VERDICT r14 item 1
    // watch item): one getFileStatus + listStatus PER batch dir serially
    // on the driver is the scan-planning bottleneck of a many-leaf table
    // (10⁴–10⁶ dirs × an object-store round-trip each); Spark's own
    // InMemoryFileIndex parallelizes the identical loop above
    // `listingParallelismThreshold`. 16 threads: FS clients are cached
    // per scheme, listStatus is I/O-bound, driver CPU stays marginal.
    val dirs =
      if (dirEntries.size <= 64) dirEntries.map(listOne)
      else org.apache.spark.util.ThreadUtils.parmap(
        dirEntries.toSeq, "graft-scan-listing", 16)(listOne)
    val fmt = new ParquetFileFormat
    val allParts = dirs.flatMap(_._2.toSeq)
    val options = Map("mergeSchema" -> mergeSchema.toString)
    // schema from the footers we already listed — no second listing
    // job: the first part's footer read on the driver by default, a
    // distributed union under mergeSchema
    // asNullable — the same normalization Spark's DataSource.resolveRelation
    // applies to every file-source schema: a footer written from a
    // non-null frame marks its fields REQUIRED, and under a mergeSchema
    // union the vectorized reader would then REFUSE files that predate
    // such a column instead of null-filling it
    val inferred =
      if (mergeSchema) fmt.inferSchema(classic, options, allParts)
      else allParts.headOption.map(FooterSchema.ofFile(classic, _, hconf))
    val schema = inferred.getOrElse(
      throw new IllegalArgumentException(
        s"graft: could not infer a parquet schema over " +
          s"${dirEntries.size} batch dirs (first: " +
          s"${dirEntries.headOption.map(_._1).getOrElse("-")})")).asNullable
    val index = new GraftStatsFileIndex(dirs, overlap, mayContain)
    val relation = HadoopFsRelation(index, StructType(Nil), schema,
      None, fmt, options)(classic)
    org.apache.spark.sql.classic.Dataset.ofRows(classic,
      LogicalRelation(relation, isStreaming = false))
  }
}
