package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. Spark 4 moved these converters behind
  * `private[sql]` (org.apache.spark.sql.classic.ExpressionUtils), so the one
  * sanctioned way for an extension library to wrap a custom Catalyst
  * Expression as a user-facing Column is a shim inside the sql package —
  * the same technique Spark connector libraries use. */
object SqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column → Expression conversion. [[expression]] returns a lazy
    * `ColumnNodeExpression` LEAF that defers ColumnNode conversion to
    * analysis — a `transform` over it never sees the attribute references
    * inside. Callers that need to REWRITE a user column (TxLog's
    * logical→physical DML mapping) must convert the node tree first. */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Re-tag a BATCH DataFrame as a STREAMING one (`isStreaming = true`)
    * without changing its rows — the V1 streaming `Source.getBatch`
    * contract: the engine splices the returned plan into the streaming
    * query and asserts it is streaming, while a source whose micro-batch
    * is a real computed plan (graft's change feed: snapshot-diff +
    * deletion-vector joins) can only build it batch-first. `toRdd` keeps
    * the computation lazy and fully distributed — nothing is collected.
    * (`internalCreateDataFrame` is the `private[sql]` seam Spark's own
    * V1 sources use for exactly this.) */
  def streamingDf(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The inverse re-tag for a V1 streaming SINK: `Sink.addBatch` hands a
    * frame backed by the micro-batch's incremental execution — calling
    * `.write` on it directly would plan a NEW query and re-read the
    * source from scratch (or refuse outright). Re-wrapping its `toRdd`
    * as a plain batch frame keeps the engine's incremental plan and
    * makes it writable — the documented custom-Sink discipline. */
  def batchDf(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Resolve a multipart SQL name against the session's catalog manager
    * (private[sql] in Spark 4) to the DSv2 table it names — the
    * execution-time half of the maintenance-statement parser
    * ([[graft.plans.GraftSqlParser]]). The name must be
    * catalog-qualified (`cat.ns….table`). */
  def loadCatalogTable(spark: org.apache.spark.sql.SparkSession,
      parts: Seq[String]): org.apache.spark.sql.connector.catalog.Table = {
    require(parts.length >= 2,
      s"expected a catalog-qualified table name, got ${parts.mkString(".")}")
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalogManager
    require(cm.isCatalogRegistered(parts.head),
      s"'${parts.head}' is not a registered catalog " +
        s"(set spark.sql.catalog.${parts.head})")
    val cat = cm.catalog(parts.head)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
      parts.tail.init.toArray, parts.last))
  }

  /** The TableCatalog a multipart name addresses (for statements that
    * CREATE entries, e.g. SHALLOW CLONE's destination). */
  def tableCatalog(spark: org.apache.spark.sql.SparkSession,
      catalogName: String)
      : org.apache.spark.sql.connector.catalog.TableCatalog = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalogManager
    require(cm.isCatalogRegistered(catalogName),
      s"'$catalogName' is not a registered catalog " +
        s"(set spark.sql.catalog.$catalogName)")
    cm.catalog(catalogName)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
  }

  /** Wrap an RDD of InternalRow as a batch DataFrame without the
    * external-Row round-trip `SparkSession.createDataFrame(RDD[Row], _)`
    * pays (per-row CatalystTypeConverters both ways). This is the seam
    * the two-level sort templates ([[graft.operators.SortOps]]) use: their
    * offset-seeded second pass maps pinned UnsafeRows to UnsafeRows, so
    * converting through `Row.fromSeq(row.toSeq :+ x)` was pure overhead —
    * three full conversion passes per template call at the scan grain. */
  def internalDf(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows` went
    * `private[sql]` with the Spark 4 classic split) — the execution-time
    * re-analysis path of the SQL MERGE command. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `body`'s result and the number of Spark jobs started while it ran.
    * The listener bus delivers asynchronously, so it is drained
    * (`waitUntilEmpty`, `private[spark]`) before the listener joins —
    * queued events of earlier jobs would reach it — and again before the
    * count is read. Jobs other threads start meanwhile count too. */
  def jobsOf[T](spark: org.apache.spark.sql.SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

/** A parquet read's schema from ONE driver-side footer read — the
  * reference's client-side `FileInputFormat.getSplits` discipline: learn
  * the input's shape from file metadata before submission instead of
  * running a one-task Spark job for it. Spark's non-merge inference
  * (`ParquetUtils.inferSchema`) reads exactly one footer too, but ships
  * that read as a job; this reads the same file — the first data file
  * by full path name — on the driver and converts it with Spark's own
  * converter built from the session conf (`nanosAsLong`, the NTZ and
  * binary-as-string flags), so the result is the type Spark would infer.
  *
  * Whenever Spark would read something else, [[of]] answers None and the
  * caller keeps `spark.read.parquet`: schema merging requested (the
  * `mergeSchema` conf; callers that pass the option never ask), a
  * `_metadata` / `_common_metadata` summary file, a glob, a first path
  * holding a sub-directory (a partitioned layout) or no data file (an
  * empty dir), or a path that does not exist (Spark raises the error). */
object FooterSchema {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.types.StructType

  /** The schema `spark.read.parquet(paths: _*)` would infer, or None. */
  def of(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (paths.isEmpty || classic.sessionState.conf.isParquetSchemaMergingEnabled ||
        paths.exists(_.exists("*?[]{}".contains(_)))) None
    else {
      val hconf = classic.sessionState.newHadoopConf()
      try {
        // Spark sorts every leaf file by its full path and reads the
        // first: the smallest root (with its separator, so `b1/` sorts
        // before `b10/`) holds it
        val root = paths.map { p =>
          val path = new Path(p)
          path.getFileSystem(hconf).makeQualified(path)
        }.minBy(_.toString + "/")
        val listed = root.getFileSystem(hconf).listStatus(root)
        if (listed.exists(s => s.isDirectory ||
            Set("_metadata", "_common_metadata")(s.getPath.getName))) None
        else listed.filter(s => isData(s.getPath.getName))
          .sortBy(_.getPath.toString).headOption.map(ofFile(spark, _, hconf))
      } catch { case _: java.io.FileNotFoundException => None }
    }
  }

  /** The schema of one parquet file's footer, nullable as every
    * file-source relation's schema is (`DataSource.resolveRelation`). */
  def ofFile(spark: SparkSession, file: FileStatus,
      hconf: org.apache.hadoop.conf.Configuration): StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val footer = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, hconf),
      org.apache.parquet.format.converter.ParquetMetadataConverter
        .SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.asInstanceOf[
        org.apache.spark.sql.classic.SparkSession].sessionState.conf)).asNullable
  }

  /** `spark.read.parquet(paths: _*)`, with the schema from [[of]] when
    * it answers — the same relation without the inference job. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    of(spark, paths).fold(spark.read.parquet(paths: _*))(
      spark.read.schema(_).parquet(paths: _*))

  // the data files Spark's file index keeps (`shouldFilterOutPathName`):
  // hidden names and in-flight copies are skipped (summary files are
  // handled above)
  private def isData(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_"))
}

/** `ExpectsInputTypes.inputTypes` returns `Seq[AbstractDataType]`, and
  * `AbstractDataType` is `private[sql]` in Spark 4 — a custom expression
  * outside the sql package cannot even write the override's signature. This
  * shim trait fixes the input types to (string, string) from inside the
  * package, giving SQL-registered string expressions a clean analysis-time
  * type error instead of a runtime ClassCastException. */
trait ExpectsStringPair
    extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes
      : Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.StringType,
      org.apache.spark.sql.types.StringType)
}

/** Single-string variant of [[ExpectsStringPair]] for unary expressions. */
trait ExpectsSingleString
    extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes
      : Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.StringType)
}

/** (string, bigint) variant — the (part-file, row-position) coordinate
  * signature of the deletion-vector probe. */
trait ExpectsStringLong
    extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes
      : Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.StringType,
      org.apache.spark.sql.types.LongType)
}

/** (array<bigint>, array<bigint>) variant for binary array expressions. */
trait ExpectsLongArrayPair
    extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes
      : Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))
}
