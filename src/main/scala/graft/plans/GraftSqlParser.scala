package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types._

import graft.sources.{GraftTable, TxLog}

/** The MAINTENANCE half of the SQL surface — statements standard SQL has
  * no grammar for, injected as a delegating parser ([[GraftExtensions]],
  * the public pattern Delta uses for its own `OPTIMIZE`/`VACUUM`):
  *
  * {{{
  * OPTIMIZE graft.db.t                        -- bin-pack small files
  * OPTIMIZE graft.db.t TARGET 8               -- explicit output width
  * OPTIMIZE graft.db.t ZORDER BY (a, b, c)    -- multi-dimension cluster
  * VACUUM graft.db.t [DRY RUN]                -- reclaim unreachable files
  * INSERT INTO graft.db.t REPLACE WHERE day = 'd1' SELECT ...
  *                                            -- atomic window reload
  * DESCRIBE HISTORY graft.db.t                -- per-commit audit rows
  * DESCRIBE DETAIL graft.db.t                 -- one-row table metadata
  * CONVERT TO GRAFT '/path' [STATS (a, b)]    -- zero-copy parquet import
  * CHECKPOINT graft.db.t                      -- seed log resolution
  * EXPIRE HISTORY graft.db.t                  -- retire covered manifests
  * RESTORE graft.db.t TO VERSION AS OF 3      -- snapshot-diff rollback
  * CREATE TABLE graft.db.t2 SHALLOW CLONE graft.db.t [VERSION AS OF 3]
  * ANALYZE [TABLE] graft.db.t COMPUTE STATISTICS FOR COLUMNS (a, b)
  * SHOW PARTITIONS graft.db.t                 -- live partition values
  * ALTER TABLE graft.db.t ADD CONSTRAINT nm CHECK (expr)  -- write guard
  * ALTER TABLE graft.db.t DROP CONSTRAINT nm
  * }}}
  *
  * Everything else — including every statement the session would parse
  * without this extension — passes through to the delegate untouched, so
  * the parser is a strict superset. Table names resolve at EXECUTION
  * time through the session's catalog manager to a [[GraftTable]] (loud
  * error for non-graft tables), and the verbs are the existing
  * oracle-gated ones: [[TxLog.optimize]] / [[TxLog.optimizeZOrderN]] /
  * [[TxLog.vacuum]] / [[TxLog.history]]. */
final class GraftSqlParser(delegate: ParserInterface)
    extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case OptimizeZOrderRe(name, cols) =>
      GraftOptimizeCommand(parts(name),
        zorderCols = cols.split(",").map(stripQuotes).toSeq
          .filter(_.nonEmpty))
    case OptimizeRe(name, target) =>
      GraftOptimizeCommand(parts(name), zorderCols = Nil,
        targetFiles = Option(target).map(_.trim.toInt))
    case VacuumRe(name, dry) =>
      GraftVacuumCommand(parts(name), dryRun = dry != null)
    case DetailRe(name) => GraftDescribeDetailCommand(parts(name))
    case ReplaceWhereRe(name, cond, select) =>
      // the SELECT parses through the DELEGATE (full standard grammar);
      // the condition parses at execution as an expression over the
      // table's logical schema
      GraftReplaceWhereCommand(parts(name), cond.trim,
        delegate.parsePlan(select))
    case HistoryRe(name) => GraftHistoryCommand(parts(name))
    case ConvertRe(path, cols) =>
      GraftConvertCommand(path,
        Option(cols).toSeq.flatMap(_.split(",").map(stripQuotes))
          .filter(_.nonEmpty))
    case CheckpointRe(name) => GraftCheckpointCommand(parts(name))
    case ExpireRe(name) => GraftExpireCommand(parts(name))
    case RestoreRe(name, version) =>
      GraftRestoreCommand(parts(name), version.trim.toInt)
    case CloneRe(dst, src, version) =>
      GraftCloneCommand(parts(dst), parts(src),
        Option(version).map(_.trim.toInt).getOrElse(-1))
    case AnalyzeRe(name, cols) =>
      GraftAnalyzeCommand(parts(name),
        cols.split(",").map(stripQuotes).toSeq.filter(_.nonEmpty))
    case ShowPartitionsRe(name) =>
      // SHOW PARTITIONS is native Spark grammar (unlike OPTIMIZE etc.),
      // so the command keeps the delegate's plan as a thunk and runs it
      // whenever the name does NOT resolve to a graft table — installing
      // this parser must not break hive/parquet SHOW PARTITIONS
      GraftShowPartitionsCommand(parts(name),
        () => delegate.parsePlan(sqlText))
    case AddConstraintRe(name, cname, chk) =>
      GraftAddConstraintCommand(parts(name), cname, chk.trim)
    case DropConstraintRe(name, cname) =>
      GraftDropConstraintCommand(parts(name), cname)
    case SetPartSpecRe(name, body) =>
      GraftSetPartitionSpecCommand(parts(name),
        GraftSqlParser.splitSpecs(body).map(stripQuotes))
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

object GraftSqlParser {
  // IDENT: dotted, each part optionally backticked (dots inside backticks
  // unsupported — a parse-time limitation, not a data one)
  private val Ident = """((?:`[^`]+`|[\w$]+)(?:\.(?:`[^`]+`|[\w$]+))+)"""
  private[plans] val OptimizeZOrderRe =
    ("""(?is)\s*OPTIMIZE\s+""" + Ident +
      """\s+ZORDER\s+BY\s*\(([^)]*)\)\s*;?\s*""").r
  private[plans] val OptimizeRe =
    ("""(?is)\s*OPTIMIZE\s+""" + Ident +
      """(?:\s+TARGET\s+(\d+))?\s*;?\s*""").r
  private[plans] val VacuumRe =
    ("""(?is)\s*VACUUM\s+""" + Ident +
      """(\s+DRY\s+RUN)?\s*;?\s*""").r
  // Delta's partition-reload syntax: the condition is the text between
  // REPLACE WHERE and the first SELECT (lazy match; a subquery in the
  // condition mis-splits and fails loudly at expression parse — DML
  // predicates reject subqueries project-wide anyway)
  private[plans] val ReplaceWhereRe =
    ("""(?is)\s*INSERT\s+INTO\s+""" + Ident +
      """\s+REPLACE\s+WHERE\s+(.+?)\s+(SELECT\b.*?)\s*;?\s*""").r
  private[plans] val HistoryRe =
    ("""(?is)\s*DESCRIBE\s+HISTORY\s+""" + Ident + """\s*;?\s*""").r
  private[plans] val DetailRe =
    ("""(?is)\s*DESCRIBE\s+DETAIL\s+""" + Ident + """\s*;?\s*""").r
  private[plans] val ConvertRe =
    ("""(?is)\s*CONVERT\s+TO\s+GRAFT\s+'([^']+)'""" +
      """(?:\s+STATS\s*\(([^)]*)\))?\s*;?\s*""").r
  private[plans] val CheckpointRe =
    ("""(?is)\s*CHECKPOINT\s+""" + Ident + """\s*;?\s*""").r
  private[plans] val ExpireRe =
    ("""(?is)\s*EXPIRE\s+HISTORY\s+""" + Ident + """\s*;?\s*""").r
  private[plans] val RestoreRe =
    ("""(?is)\s*RESTORE\s+(?:TABLE\s+)?""" + Ident +
      """\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""").r
  private[plans] val CloneRe =
    ("""(?is)\s*CREATE\s+TABLE\s+""" + Ident +
      """\s+SHALLOW\s+CLONE\s+""" + Ident +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*""").r
  // the PARENTHESIZED column list distinguishes the graft form from
  // Spark's native `... FOR COLUMNS a, b` (which stays delegated)
  private[plans] val AnalyzeRe =
    ("""(?is)\s*ANALYZE\s+(?:TABLE\s+)?""" + Ident +
      """\s+COMPUTE\s+STATISTICS\s+FOR\s+COLUMNS\s*\(([^)]*)\)""" +
      """\s*;?\s*""").r
  private[plans] val ShowPartitionsRe =
    ("""(?is)\s*SHOW\s+PARTITIONS\s+""" + Ident + """\s*;?\s*""").r
  // greedy body capture: the CHECK expression runs to the LAST ')', so
  // nested parens (e.g. coalesce(x, 0) > 0) parse whole
  private[plans] val AddConstraintRe =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + Ident +
      """\s+ADD\s+CONSTRAINT\s+([A-Za-z0-9_]+)\s+CHECK\s*\((.*)\)""" +
      """\s*;?\s*""").r
  private[plans] val DropConstraintRe =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + Ident +
      """\s+DROP\s+CONSTRAINT\s+([A-Za-z0-9_]+)\s*;?\s*""").r
  // greedy body: a bucket(8, c) spec carries nested parens, so the
  // list runs to the LAST ')'; an empty list evolves to unpartitioned
  private[plans] val SetPartSpecRe =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + Ident +
      """\s+SET\s+PARTITIONED\s+BY\s*\((.*)\)\s*;?\s*""").r

  /** Split a PARTITIONED BY list on TOP-LEVEL commas only (a
    * bucket/truncate spec's own comma sits inside its parens). */
  private[plans] def splitSpecs(body: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    body.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur.append(c)
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private def stripQuotes(s: String): String = {
    val t = s.trim
    if (t.startsWith("`") && t.endsWith("`") && t.length >= 2)
      t.substring(1, t.length - 1)
    else t
  }

  private def parts(name: String): Seq[String] =
    name.split("\\.").map(stripQuotes).toSeq

  /** Execution-time resolution: the named table must be a graft table. */
  private[plans] def dirOf(session: SparkSession,
      nameParts: Seq[String]): String =
    SqlBridge.loadCatalogTable(session, nameParts) match {
      case g: GraftTable => g.dir
      case other => throw new IllegalArgumentException(
        s"graft: ${nameParts.mkString(".")} is not a graft table " +
          s"(provider: ${other.properties.get("provider")})")
    }
}

/** `OPTIMIZE t [TARGET n | ZORDER BY (cols)]` → [[TxLog.optimize]] /
  * [[TxLog.optimizeZOrderN]]; returns the commit version (0 = no-op). */
final case class GraftOptimizeCommand(nameParts: Seq[String],
    zorderCols: Seq[String], targetFiles: Option[Int] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val g = SqlBridge.loadCatalogTable(session, nameParts) match {
      case g: GraftTable => g
      case other => throw new IllegalArgumentException(
        s"graft: ${nameParts.mkString(".")} is not a graft table " +
          s"(provider: ${other.properties.get("provider")})")
    }
    val batch = s"sqlopt_${System.nanoTime()}"
    val v = g.partCols match {
      case pcs if pcs.nonEmpty =>
        // a partitioned table's grain IS its pruning: plain bin-packing
        // or a z-order rewrite would collapse the value leaves into
        // unprunable batches, so OPTIMIZE routes to the grain-preserving
        // (and grain-RESTORING) per-value compaction instead
        require(zorderCols.isEmpty,
          s"graft: OPTIMIZE ZORDER is not supported on a PARTITIONED " +
            s"table — z-ordering would collapse the " +
            s"'${pcs.mkString(", ")}' value leaves partition pruning " +
            "depends on")
        require(targetFiles.isEmpty,
          "graft: OPTIMIZE TARGET is not supported on a PARTITIONED " +
            "table — the output width is one file per live value")
        TxLog.optimizePartitionedCols(session, g.dir, batch, pcs)
      case _ =>
        if (zorderCols.nonEmpty)
          TxLog.optimizeZOrderN(session, g.dir, batch, zorderCols,
            targetFiles = targetFiles.getOrElse(
              math.max(1, TxLog.liveFiles(g.dir).size / 2)))
        else TxLog.optimize(session, g.dir, batch,
          targetFiles = targetFiles.getOrElse(1))
    }
    Seq(Row(v))
  }
}

/** `VACUUM t [DRY RUN]` → [[TxLog.vacuum]]; one row per reclaimed (or,
  * under DRY RUN, reclaimable-but-kept) path. */
final case class GraftVacuumCommand(nameParts: Seq[String],
    dryRun: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    TxLog.vacuum(GraftSqlParser.dirOf(session, nameParts), dryRun)
      .map(Row(_))
}

/** `INSERT INTO t REPLACE WHERE cond SELECT …` →
  * [[TxLog.replaceWhere]] (Delta's partition-reload syntax): the
  * window swap as ONE SQL statement. The source aligns to the table's
  * logical schema BY POSITION with a cast (standard INSERT semantics);
  * containment, pruning, and atomicity are the verb's own. */
final case class GraftReplaceWhereCommand(nameParts: Seq[String],
    condSql: String, source: LogicalPlan) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, expr}
    val g = SqlBridge.loadCatalogTable(session, nameParts) match {
      case g: GraftTable => g
      case other => throw new IllegalArgumentException(
        s"graft: ${nameParts.mkString(".")} is not a graft table " +
          s"(provider: ${other.properties.get("provider")})")
    }
    val df = SqlBridge.ofRows(session, source)
    val target = g.schema
    require(df.columns.length == target.length,
      s"graft: REPLACE WHERE source has ${df.columns.length} column(s), " +
        s"table ${nameParts.mkString(".")} has ${target.length}")
    val aligned = df.select(df.columns.toSeq.zip(target).map {
      case (c, f) => col(c).cast(f.dataType).as(f.name)
    }: _*)
    Seq(Row(TxLog.replaceWhere(session, g.dir,
      s"sqlrw_${System.nanoTime()}", aligned, expr(condSql),
      autoStatsCols =
        if (session.conf.getOption("spark.graft.autoStats")
            .forall(_ != "false")) 8 else 0)))
  }
}

/** `CONVERT TO GRAFT '<dir>' [STATS (c1, c2, …)]` →
  * [[TxLog.convertParquet]]; returns the seed commit version. Pair with
  * `CREATE TABLE … USING graft LOCATION '<dir>'` for the catalog name. */
final case class GraftConvertCommand(path: String, statsCols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(TxLog.convertParquet(session, path, statsCols)))
}

/** `CHECKPOINT t` → [[TxLog.checkpoint]]: collapse the live set into one
  * seed file so snapshot resolution reads the manifest SUFFIX only (the
  * other half of log retention, paired with `EXPIRE HISTORY`). */
final case class GraftCheckpointCommand(nameParts: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(TxLog.checkpoint(GraftSqlParser.dirOf(session, nameParts))))
}

/** `EXPIRE HISTORY t` → [[TxLog.expireManifests]]: retire manifests a
  * checkpoint already covers — time travel BEFORE the checkpoint ends
  * (loudly), VACUUM can then reclaim their unreferenced files. */
final case class GraftExpireCommand(nameParts: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("n_expired", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(TxLog.expireManifests(
      GraftSqlParser.dirOf(session, nameParts))))
}

/** `ALTER TABLE t SET PARTITIONED BY (specs)` →
  * [[TxLog.setPartitionSpec]] — PARTITION-SPEC EVOLUTION (Iceberg's
  * spec evolution as one statement): a metadata-only commit changes
  * the spec future INSERTs cluster by; existing leaves stay as
  * written, keep pruning via their self-describing segments, and
  * lazily migrate to the new grain on the next OPTIMIZE. An empty
  * list evolves to unpartitioned. */
final case class GraftSetPartitionSpecCommand(nameParts: Seq[String],
    specs: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val table = SqlBridge.loadCatalogTable(session, nameParts)
    // the CREATE path validates spec sources against the declared
    // schema; the evolution path must too, or `SET PARTITIONED BY
    // (days(typo_col))` commits fine and every later INSERT fails at
    // derive time until re-evolved (an empty schema — a table no
    // write ever reached — has nothing to validate against yet)
    val declared = table.columns().map(_.name).toSet
    if (declared.nonEmpty) TxLog.partSpecSources(specs).foreach { c =>
      require(declared.contains(c),
        s"graft: SET PARTITIONED BY references column '$c', which is " +
          s"not in the table schema (${declared.mkString(", ")})")
    }
    Seq(Row(TxLog.setPartitionSpec(
      GraftSqlParser.dirOf(session, nameParts), specs)))
  }
}

/** `RESTORE [TABLE] t TO VERSION AS OF n` → [[TxLog.restore]]: one
  * snapshot-diff commit back to any resolvable version (ordinary
  * history — the restore itself can be time-traveled across). */
final case class GraftRestoreCommand(nameParts: Seq[String], toVersion: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(TxLog.restore(
      GraftSqlParser.dirOf(session, nameParts), toVersion)))
}

/** `CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF n]` — zero-copy
  * fork ([[TxLog.cloneShallow]]): the destination registers as a MANAGED
  * catalog table whose one manifest commit references the source's live
  * files in place; mutations never cross the fork. */
final case class GraftCloneCommand(dstParts: Seq[String],
    srcParts: Seq[String], asOf: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("location", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val srcDir = GraftSqlParser.dirOf(session, srcParts)
    val catalog = SqlBridge.tableCatalog(session, dstParts.head)
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      dstParts.tail.init.toArray, dstParts.last)
    // register first (managed location, atomic one-winner claim), then
    // fork into the assigned directory; a failed fork drops the entry
    catalog.createTable(ident, new StructType(),
      Array.empty[org.apache.spark.sql.connector.expressions.Transform],
      new java.util.HashMap[String, String]())
    val dstDir = catalog.loadTable(ident)
      .properties().get(org.apache.spark.sql.connector.catalog
        .TableCatalog.PROP_LOCATION)
    try TxLog.cloneShallow(srcDir, dstDir, asOf)
    catch { case e: Throwable => catalog.dropTable(ident); throw e }
    Seq(Row(dstDir))
  }
}

/** `DESCRIBE DETAIL t` — the operator-facing metadata loop in ONE
  * statement (public precedent: Delta's DESCRIBE DETAIL): location,
  * current version, live file count and bytes, partition columns,
  * persistent constraints, column-mapping state, and the added-column
  * type registry. Everything reads off the manifest (one snapshot
  * resolution) except `size_bytes`, which stats the live files — the
  * one honestly O(files) field, same as Delta's. */
final case class GraftDescribeDetailCommand(nameParts: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("n_files", IntegerType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("n_dv_bound", IntegerType, nullable = false)(),
    AttributeReference("partition_columns", StringType, nullable = false)(),
    AttributeReference("constraints", StringType, nullable = false)(),
    AttributeReference("column_mapped", BooleanType, nullable = false)(),
    AttributeReference("added_columns", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val g = SqlBridge.loadCatalogTable(session, nameParts) match {
      case g: GraftTable => g
      case other => throw new IllegalArgumentException(
        s"graft: ${nameParts.mkString(".")} is not a graft table " +
          s"(provider: ${other.properties.get("provider")})")
    }
    val snap = TxLog.snapshot(g.dir)
    val conf = session.sparkContext.hadoopConfiguration
    val size = snap.files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val fs = p.getFileSystem(conf)
      try fs.getContentSummary(p).getLength catch { case _: Exception => 0L }
    }.sum
    Seq(Row(
      g.dir, snap.version, snap.entries.size, size, snap.dvs.size,
      g.partCols.mkString(","),
      snap.checks.map { case (n, e) => s"$n CHECK ($e)" }.mkString("; "),
      snap.colMap.isDefined,
      snap.types.map { case (c, t) => s"$c $t" }.mkString(", ")))
  }
}

/** `DESCRIBE HISTORY t` → [[TxLog.history]] rows. */
final case class GraftHistoryCommand(nameParts: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("ts_millis", LongType, nullable = false)(),
    AttributeReference("n_added", LongType, nullable = false)(),
    AttributeReference("n_removed", LongType, nullable = false)(),
    AttributeReference("n_dv_bound", LongType, nullable = false)(),
    AttributeReference("n_dv_cleared", LongType, nullable = false)(),
    AttributeReference("schema_change", BooleanType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    TxLog.history(session,
      GraftSqlParser.dirOf(session, nameParts)).collect().toSeq
}

/** `ANALYZE [TABLE] t COMPUTE STATISTICS FOR COLUMNS (a, b)` →
  * [[TxLog.analyze]]: retro-fit manifest range stats onto every live
  * file in one metadata-only commit, so a table ingested without stats
  * starts pruning (scan-planning FileIndex + readPruned) after the
  * fact. Returns the commit version. */
final case class GraftAnalyzeCommand(nameParts: Seq[String],
    columns: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    require(columns.nonEmpty,
      "graft: ANALYZE needs at least one column in FOR COLUMNS (...)")
    val dir = GraftSqlParser.dirOf(session, nameParts)
    Seq(Row(TxLog.analyze(session, dir, columns)))
  }
}

/** `SHOW PARTITIONS t` → [[TxLog.partitionValues]]: one `col=value` row
  * per live partition value of a PARTITIONED BY catalog table (the
  * Hive/Delta output shape). Zero data reads while every live file is a
  * value leaf; exact via one narrow distinct scan otherwise. Because
  * SHOW PARTITIONS is native Spark grammar, a name that does NOT
  * resolve to a graft table runs the DELEGATE's plan instead (`native`,
  * parsed lazily) — hive/parquet tables keep their built-in semantics
  * with this parser installed (ADVICE r13). */
final case class GraftShowPartitionsCommand(nameParts: Seq[String],
    native: () => LogicalPlan) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("partition", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val graftTable =
      try SqlBridge.loadCatalogTable(session, nameParts) match {
        case g: GraftTable => Some(g)
        case _ => None // a DSv2 table of another provider → native path
      } catch {
        // head part is not a registered catalog (hive `db.t`) or the
        // graft catalog has no such table → native path owns the name
        case _: Exception => None
      }
    graftTable match {
      case Some(g) =>
        val pcs = g.partCols
        require(pcs.nonEmpty,
          s"graft: SHOW PARTITIONS on ${nameParts.mkString(".")}, which " +
            "is not a partitioned table (CREATE ... PARTITIONED BY (c))")
        TxLog.partitionTuples(session, g.dir, pcs).map(t =>
          pcs.zip(t).map {
            case (pc, Some(v)) => s"$pc=$v"
            case (pc, None)    => s"$pc=__HIVE_DEFAULT_PARTITION__"
          }.mkString("/")).sorted.map(Row(_))
      case None =>
        SqlBridge.ofRows(session, native()).collect().toSeq
    }
  }
}

/** `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` →
  * [[TxLog.addConstraint]]: a persistent table CHECK rule, enforced on
  * every write verb from this commit on; fails if existing rows violate
  * it (Delta's semantics). Returns the commit version. */
final case class GraftAddConstraintCommand(nameParts: Seq[String],
    cname: String, check: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(TxLog.addConstraint(session,
      GraftSqlParser.dirOf(session, nameParts), cname, check)))
}

/** `ALTER TABLE t DROP CONSTRAINT name` → [[TxLog.dropConstraint]]. */
final case class GraftDropConstraintCommand(nameParts: Seq[String],
    cname: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(TxLog.dropConstraint(
      GraftSqlParser.dirOf(session, nameParts), cname)))
}
