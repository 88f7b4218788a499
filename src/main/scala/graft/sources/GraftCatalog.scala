package graft.sources

import java.nio.charset.StandardCharsets
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A SQL/catalog identity for [[TxLog]] tables — the DataSourceV2
  * `TableCatalog` that makes the lakehouse surface reachable from plain
  * SQL text (public precedent: Delta's DeltaCatalog; reference
  * capability analog: catalog-over-provided-storage,
  * hadoop-tools/hadoop-fs2img/.../FileSystemImage.java — mounting
  * pre-existing data into a queryable namespace without copying it):
  *
  * {{{
  * spark.sql.catalog.graft           = graft.sources.GraftCatalog
  * spark.sql.catalog.graft.warehouse = /data/warehouse
  * spark.sql.extensions              = graft.plans.GraftExtensions
  *
  * CREATE TABLE graft.db.t USING graft LOCATION '/data/existing_txlog'
  * SELECT * FROM graft.db.t VERSION AS OF 3
  * INSERT INTO graft.db.t SELECT ...
  * INSERT OVERWRITE graft.db.t SELECT ...
  * DELETE FROM graft.db.t WHERE ...
  * UPDATE graft.db.t SET ... WHERE ...
  * MERGE INTO graft.db.t USING src ON t.k = src.k
  *   WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
  * ALTER TABLE graft.db.t RENAME COLUMN a TO b
  * }}}
  *
  * Split of responsibilities, by what each Spark seam can express:
  *  - this catalog owns NAMES: create/load/drop/rename/list, VERSION /
  *    TIMESTAMP AS OF routing (`loadTable(ident, version)`), and ALTER
  *    TABLE column verbs (metadata-only [[TxLog.renameColumn]] /
  *    [[TxLog.dropColumn]] commits);
  *  - INSERT INTO / INSERT OVERWRITE ride Spark's V1-write fallback
  *    ([[GraftTable.newWriteBuilder]] → `V1Write` →
  *    [[TxLog.appendMapped]] / [[TxLog.overwriteAll]]) — no analyzer
  *    hook needed;
  *  - SELECT reads and DELETE/UPDATE/MERGE statements resolve through
  *    [[graft.plans.GraftSqlResolution]] (injected by
  *    `graft.plans.GraftExtensions`), because a TxLog snapshot is a
  *    PLAN (deletion-vector anti-join + column mapping projection), not
  *    a bare file scan a `ScanBuilder` could hand back.
  *
  * Catalog metadata is tiny and file-backed: one manifest per table at
  * `<warehouse>/_catalog/<namespace...>/<table>.meta` (tab-separated
  * `location` / `external` / `schema` lines), created with the same
  * atomic create-if-absent claim discipline as TxLog manifests, so two
  * racing CREATEs resolve to one winner. The DATA never lives in the
  * catalog — a table is a pointer at a TxLog directory; dropping an
  * EXTERNAL table removes the pointer only, dropping a MANAGED table
  * (no LOCATION in its CREATE) destroys its directory too.
  *
  * Scale: catalog operations are O(1) metadata-file reads; every data
  * operation goes through TxLog's checkpoint-seeded snapshot resolution.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' requires spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName
  override def defaultNamespace(): Array[String] = Array("default")

  // ---- metadata persistence ----------------------------------------

  private def conf() =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def metaRoot = new Path(warehouse, "_catalog")

  /** Identifier parts become filesystem path components — a name like
    * `..` or one carrying a separator (legal inside SQL backticks) must
    * not escape the catalog root. */
  private def safePart(s: String, what: String): String = {
    require(s.nonEmpty && !s.contains("/") && !s.contains("\\") &&
      s != "." && s != ".." && !s.exists(_ < ' '),
      s"graft: unsupported $what '$s' — catalog names must not contain " +
        "path separators, '..', or control characters")
    s
  }

  private def nsDir(ns: Array[String]): Path =
    ns.foldLeft(metaRoot)((p, n) => new Path(p, safePart(n, "namespace")))

  private def metaFile(ident: Identifier): Path =
    new Path(nsDir(ident.namespace),
      s"${safePart(ident.name, "table name")}.meta")

  private def managedDir(ident: Identifier): String =
    (Seq(warehouse) ++ ident.namespace :+ ident.name).mkString("/")

  private case class TableMeta(location: String, external: Boolean,
      declared: StructType, partCols: Seq[String] = Nil)

  private def readMeta(ident: Identifier): Option[TableMeta] = {
    val p = metaFile(ident)
    val fs = p.getFileSystem(conf())
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text =
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 8192, false)
        new String(bytes.toByteArray, StandardCharsets.UTF_8)
      } finally in.close()
    var loc = ""; var ext = false; var schema = new StructType()
    var pcs: Seq[String] = Nil
    text.linesIterator.foreach(_.split("\t", 2) match {
      case Array("location", v) => loc = v
      case Array("external", v) => ext = v.toBoolean
      case Array("schema", v) if v.nonEmpty =>
        schema = StructType.fromDDL(v)
      // comma-joined for composite specs; each spec percent-encoded so
      // a bucket(n,col) spec's own comma survives the join (decoding is
      // the identity on legacy plain-column entries — identifiers never
      // contain '%')
      case Array("partcol", v) if v.nonEmpty =>
        pcs = v.split(",").toSeq.filter(_.nonEmpty)
          .map(java.net.URLDecoder.decode(_, "UTF-8"))
      case _ =>
    })
    Some(TableMeta(loc, ext, schema, pcs))
  }

  private def writeMeta(ident: Identifier, meta: TableMeta): Boolean = {
    val target = metaFile(ident)
    val fs = target.getFileSystem(conf())
    fs.mkdirs(target.getParent)
    val tmp = new Path(target.getParent,
      s".${ident.name}.tmp${System.nanoTime()}")
    val body =
      s"location\t${meta.location}\nexternal\t${meta.external}\n" +
        s"schema\t${if (meta.declared.isEmpty) "" else meta.declared.toDDL}\n" +
        (if (meta.partCols.isEmpty) ""
         else "partcol\t" + meta.partCols
           .map(java.net.URLEncoder.encode(_, "UTF-8"))
           .mkString(",") + "\n")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    // same atomic create-if-absent claim as a TxLog manifest: one winner
    TxLog.claimFor(fs, tmp, target)
  }

  // ---- TableCatalog -------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDir(namespace)
    val fs = d.getFileSystem(conf())
    if (!fs.exists(d)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    fs.listStatus(d).filter(_.isFile).map(_.getPath.getName)
      .filter(_.endsWith(".meta"))
      .map(n => Identifier.of(namespace, n.stripSuffix(".meta")))
  }

  override def loadTable(ident: Identifier): Table =
    loadAt(ident, -1)

  /** `VERSION AS OF v` routes here (the DSv2 time-travel contract). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v =
      try version.toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"graft: VERSION AS OF takes a commit number, got '$version'") }
    loadAt(ident, v)
  }

  /** `TIMESTAMP AS OF ts` routes here with MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val meta = readMeta(ident).getOrElse(
      throw new NoSuchTableException(ident))
    loadAt(ident, TxLog.versionAt(meta.location, timestampMicros / 1000L))
  }

  private def loadAt(ident: Identifier, asOf: Int): Table = {
    val meta = readMeta(ident).getOrElse(
      throw new NoSuchTableException(ident))
    // partition-spec EVOLUTION lives in the table's own log (Delta's
    // metadata partitionColumns pattern): an ALTER ... SET PARTITIONED
    // BY commit overrides the CREATE-time spec for future ingest; a
    // VERSION/TIMESTAMP AS OF load resolves the spec in force AT that
    // version, so partitioning()/SHOW PARTITIONS label the snapshot
    // the reader actually sees
    GraftTable(
      (catalogName +: ident.namespace :+ ident.name).mkString("."),
      meta.location, asOf, meta.declared,
      TxLog.partitionSpec(meta.location, asOf).getOrElse(meta.partCols))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // PARTITIONED BY (a, b, …): identity transforms over top-level
    // columns, the TIME-BUCKETING transforms days/months/years/
    // hours(ts), and hash buckets bucket(n, col) (Iceberg's
    // partition-transform surface) — every INSERT then routes through
    // the partitioned ingest (one manifest entry per value COMBINATION;
    // identity levels carry exact min=max + one-value bloom stats from
    // their dirname, time levels carry true per-leaf min/max on the
    // SOURCE column so raw `ts` predicates prune day leaves, bucket
    // levels carry an exact `#bk#` membership segment so a point
    // predicate prunes to 1 of n leaves, truncate levels carry an
    // exact `#tp#` prefix segment so equality literals prune by their
    // code-point prefix), and the scan-planning FileIndex prunes a
    // filter on ANY partition column.
    val timeFns = Set("days", "months", "years", "hours")
    val partCols = partitions.toSeq.map {
      case t if (t.name == "identity" || timeFns(t.name)) &&
          t.references.length == 1 &&
          t.references.head.fieldNames.length == 1 =>
        val c = t.references.head.fieldNames.head
        require(schema.isEmpty || schema.fieldNames.contains(c),
          s"graft: PARTITIONED BY column '$c' is not in the table schema")
        require(!c.contains(",") && !c.contains("(") && !c.contains(")"),
          s"graft: unsupported characters in partition column name: $c")
        if (t.name == "identity") c else s"${t.name}($c)"
      case t if (t.name == "bucket" || t.name == "truncate") &&
          t.references.length == 1 &&
          t.references.head.fieldNames.length == 1 =>
        val c = t.references.head.fieldNames.head
        val n = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value.isInstanceOf[Number] =>
            l.value.asInstanceOf[Number].intValue()
        }.getOrElse(throw new UnsupportedOperationException(
          s"graft: ${t.name} transform needs a literal parameter, got: $t"))
        require(schema.isEmpty || schema.fieldNames.contains(c),
          s"graft: PARTITIONED BY column '$c' is not in the table schema")
        require(!c.contains(",") && !c.contains("(") && !c.contains(")"),
          s"graft: unsupported characters in partition column name: $c")
        s"${t.name}($n,$c)"
      case other => throw new UnsupportedOperationException(
        "graft: PARTITIONED BY supports top-level identity columns, " +
          "days/months/years/hours(col), bucket(n, col), and " +
          s"truncate(w, col), got: $other")
    }
    require(partCols.distinct == partCols,
      s"graft: duplicate PARTITIONED BY columns: ${partCols.mkString(", ")}")
    val external = properties.containsKey(TableCatalog.PROP_LOCATION)
    val location = Option(properties.get(TableCatalog.PROP_LOCATION))
      .getOrElse(managedDir(ident))
    require(!location.exists(_ < ' '),
      s"graft: LOCATION must not contain control characters: $location")
    if (!writeMeta(ident, TableMeta(location, external, schema, partCols)))
      throw new TableAlreadyExistsException(ident)
    loadTable(ident)
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val meta = readMeta(ident).getOrElse(
      throw new NoSuchTableException(ident))
    val spark = SparkSession.active
    // guards consult the EFFECTIVE spec (an evolved table's log
    // overrides the CREATE-time meta)
    val effPartCols = TxLog.partitionSpec(meta.location)
      .getOrElse(meta.partCols)
    changes.foreach {
      // ADD COLUMN composes with a partitioned layout: it is
      // metadata-only and MAPPING-FREE (a `coltype` registry line, no
      // colmap), so the value-grain leaves keep their declared-name
      // storage; only the mapping-creating verbs below stay refused
      case c if effPartCols.nonEmpty &&
          !c.isInstanceOf[TableChange.AddColumn] =>
        throw new UnsupportedOperationException(
          "graft: RENAME/DROP COLUMN are not supported on a PARTITIONED " +
            "table — the partitioned ingest writes storage under the " +
            "declared column names, which a column mapping would break; " +
            "ADD COLUMN is supported (mapping-free)")
      case p: TableChange.AddColumn if effPartCols.nonEmpty &&
          effPartCols.exists(spec =>
            spec == p.fieldNames.headOption.getOrElse("") ||
              spec.endsWith(s"(${p.fieldNames.headOption.getOrElse("")})") ||
              spec.endsWith(s",${p.fieldNames.headOption.getOrElse("")})")) =>
        throw new UnsupportedOperationException(
          "graft: ADD COLUMN must not shadow a partition column")
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "graft: nested column rename is not supported")
        TxLog.renameColumn(spark, meta.location, r.fieldNames.head,
          r.newName)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "graft: nested column drop is not supported")
        TxLog.dropColumn(spark, meta.location, d.fieldNames.head)
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "graft: nested column add is not supported")
        require(a.isNullable,
          "graft: ADD COLUMN null-fills existing rows, so the column " +
            "must be nullable")
        require(a.position() == null,
          "graft: ADD COLUMN position (FIRST/AFTER) is not supported — " +
            "added columns append to the logical schema")
        require(a.defaultValue() == null,
          "graft: ADD COLUMN DEFAULT is not supported — existing rows " +
            "null-fill")
        // comment is accepted and dropped: the log records name + type;
        // a comment registry would be catalog metadata, not table state
        TxLog.addColumn(spark, meta.location, a.fieldNames.head,
          a.dataType().catalogString)
      case other =>
        throw new UnsupportedOperationException(
          s"graft: ALTER TABLE change not supported: $other " +
            "(supported: ADD COLUMN, RENAME COLUMN, DROP COLUMN)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    readMeta(ident) match {
      case None => false
      case Some(meta) =>
        if (!meta.external) TxLog.destroy(meta.location)
        val p = metaFile(ident)
        p.getFileSystem(conf()).delete(p, false)
    }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val meta = readMeta(oldIdent).getOrElse(
      throw new NoSuchTableException(oldIdent))
    if (!writeMeta(newIdent, meta))
      throw new TableAlreadyExistsException(newIdent)
    val p = metaFile(oldIdent)
    p.getFileSystem(conf()).delete(p, false)
  }

  override def tableExists(ident: Identifier): Boolean =
    readMeta(ident).isDefined

  override def invalidateTable(ident: Identifier): Unit = ()

  // ---- SupportsNamespaces -------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val fs = metaRoot.getFileSystem(conf())
    if (!fs.exists(metaRoot)) return Array.empty
    fs.listStatus(metaRoot).filter(_.isDirectory)
      .map(s => Array(s.getPath.getName))
  }

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val d = nsDir(namespace)
    val fs = d.getFileSystem(conf())
    if (!fs.exists(d)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    fs.listStatus(d).filter(_.isDirectory)
      .map(s => namespace :+ s.getPath.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val d = nsDir(namespace)
      d.getFileSystem(conf()).exists(d)
    }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val d = nsDir(namespace)
    val fs = d.getFileSystem(conf())
    if (fs.exists(d))
      throw new NamespaceAlreadyExistsException(
        (catalogName +: namespace.toSeq).toArray)
    fs.mkdirs(d)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft: ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val d = nsDir(namespace)
    val fs = d.getFileSystem(conf())
    if (!fs.exists(d)) return false
    if (!cascade && fs.listStatus(d).nonEmpty)
      throw new IllegalStateException(
        s"graft: namespace ${namespace.mkString(".")} is not empty")
    fs.delete(d, cascade)
  }
}

/** The DSv2 `Table` a [[GraftCatalog]] serves: a named pointer at a
  * [[TxLog]] directory, pinned to ONE snapshot version for the life of
  * the query that loaded it (per-query snapshot isolation — `asOf < 0`
  * resolves the latest version once, lazily, and both the schema and the
  * read plan use that same pin). Reads are planned by
  * [[graft.plans.GraftSqlResolution]]; writes ride the V1 fallback. */
final case class GraftTable(qualified: String, dir: String, asOf: Int,
    declared: StructType, partCols: Seq[String] = Nil)
    extends Table with SupportsRead with SupportsWrite
    with TruncatableTable {

  /** Single-column convenience view of the partition spec. */
  def partCol: Option[String] = partCols.headOption

  /** Native `TRUNCATE TABLE t` (the DSv2 TruncatableTable seam): one
    * adds-empty remove-all commit — the truncated content still time
    * travels, a mapped table's colmap restates to identity. */
  override def truncateTable(): Boolean = { TxLog.truncate(dir); true }

  /** The snapshot every consumer of this instance agrees on. */
  lazy val pinnedVersion: Int =
    if (asOf > 0) asOf else TxLog.latestVersion(dir)

  override def name(): String = qualified

  override lazy val schema: StructType =
    if (pinnedVersion == 0) declared
    else {
      val snap = TxLog.snapshot(dir, pinnedVersion)
      if (snap.entries.isEmpty) declared
      else TxLog.readSnapshot(SparkSession.active, dir, snap).schema
    }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def properties(): util.Map[String, String] =
    Map(TableCatalog.PROP_PROVIDER -> "graft",
      TableCatalog.PROP_LOCATION -> dir).asJava

  override def partitioning(): Array[Transform] = partCols.toArray.map {
    case s if s.startsWith("bucket(") && s.endsWith(")") =>
      val Array(n, c) = s.stripPrefix("bucket(").stripSuffix(")")
        .split(",", 2)
      org.apache.spark.sql.connector.expressions.Expressions.bucket(
        n.trim.toInt, c.trim)
    case s if s.startsWith("truncate(") && s.endsWith(")") =>
      val Array(w, c) = s.stripPrefix("truncate(").stripSuffix(")")
        .split(",", 2)
      org.apache.spark.sql.connector.expressions.Expressions.apply(
        "truncate",
        org.apache.spark.sql.connector.expressions.Expressions.literal(
          w.trim.toInt),
        org.apache.spark.sql.connector.expressions.Expressions.column(
          c.trim))
    case s if s.endsWith(")") && s.contains("(") =>
      val fn = s.takeWhile(_ != '(')
      val c = s.drop(fn.length + 1).dropRight(1)
      org.apache.spark.sql.connector.expressions.Expressions.apply(
        fn, org.apache.spark.sql.connector.expressions.Expressions.column(c))
    case c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c)
  }

  /** Metadata-only ScanBuilder: DESCRIBE TABLE's stats probe builds a
    * scan just to sniff statistics, so this must not throw — but an
    * actual read reaching `toBatch` means the session is missing the
    * extension that plans graft reads, and says so. */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.Scan {
          override def readSchema(): StructType = schema
          override def description(): String = s"graft snapshot $qualified"
          override def toBatch: org.apache.spark.sql.connector.read.Batch =
            throw new UnsupportedOperationException(
              s"graft: reading $qualified requires the session extension " +
                "(spark.sql.extensions=graft.plans.GraftExtensions) — a " +
                "TxLog snapshot is a plan (deletion-vector mask + column " +
                "mapping), not a bare file scan, so the extension rewrites " +
                "the relation instead of this scan running")
        }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame,
                overwriteFlag: Boolean): Unit = {
              val spark = data.sparkSession
              val batch = s"sql_${System.nanoTime()}"
              partCols match {
                case pcs if pcs.nonEmpty =>
                  // pin once: the zero-row probe and the write must not
                  // recompute the source query
                  val pinned = data.localCheckpoint()
                  try {
                    // partitioned ingest: one task per value combination
                    // keeps one file per leaf (a raw partitionBy write
                    // would emit tasks×values small files); heavily
                    // skewed partition values trade shuffle balance for
                    // that layout — the standard partitioned-table write
                    val clustered = pinned.repartition(
                      pcs.map(TxLog.parsePartSpec(_).derive): _*)
                    if (overwrite || overwriteFlag) {
                      // empty source: standard SQL truncates — there are
                      // no leaves to write, so route to the adds-empty
                      // remove-all commit instead of the leaf writer
                      // (which REQUIREs non-empty input; ADVICE r13)
                      if (pinned.isEmpty) TxLog.truncate(dir)
                      else TxLog.overwritePartitionedCols(spark, dir,
                        batch, clustered, pcs)
                    }
                    else if (pinned.isEmpty) () // zero-row INSERT: no-op
                    else TxLog.commitPartitionedCols(spark, dir, batch,
                      clustered, pcs)
                  } finally graft.core.Checkpoints.release(pinned)
                case _ =>
                  // stats-on-write (Delta's default): every SQL ingest
                  // derives range stats for up to 8 numeric columns from
                  // the written batch, so catalog tables prune from day
                  // one without an ANALYZE; spark.graft.autoStats=false
                  // opts out
                  val autoCols =
                    if (spark.conf.getOption("spark.graft.autoStats")
                        .forall(_ != "false")) 8 else 0
                  if (overwrite || overwriteFlag)
                    TxLog.overwriteAll(spark, dir, data, batch,
                      autoStatsCols = autoCols)
                  else
                    TxLog.appendMapped(spark, dir, data, batch,
                      autoStatsCols = autoCols)
              }
            }
          }
      }
    }
}
