package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + IO facade for the graft engine.
  *
  * Capability parity: the reference's job setup + FileInputFormat/OutputFormat
  * surface (reference: hadoop-mapreduce-client-core .../lib/input/FileInputFormat.java:66,
  * .../lib/output/TextOutputFormat.java:44). Spark-first: `spark.read`/`df.write`
  * carry splits, codecs, committers, small-file packing natively.
  *
  * Scale notes: AQE on (skew joins, dynamic coalesce); shuffle partitions
  * default to the core count — on a real cluster set ~2-3x total cores.
  */
object Graft {

  /** The one session every main and test builds (the reference's
    * ToolRunner/GenericOptionsParser role): the oracle grades exactly the
    * configuration the benchmark times. `cpus` defaults to
    * `$SPARK_GRAFT_CPUS`, else the JVM's available processors; a
    * non-positive `shufflePartitions` means `$SPARK_GRAFT_PARTS`, else
    * `cpus` (a wider shuffle for scale probes, where data volume outgrows
    * the core count). */
  def session(
      appName: String = "graft",
      cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors),
      shufflePartitions: Int = 0): SparkSession = {
    val parts =
      if (shufflePartitions > 0) shufflePartitions
      else sys.env.get("SPARK_GRAFT_PARTS").map(_.toInt).getOrElse(cpus)
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // the library's own extensions are part of its session contract:
      // native functions, the range-join rule, the TopK strategy, and
      // the SQL surface (catalog relation rewrites + maintenance
      // statements) all ride spark.sql.extensions
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // Always-on from construction (not per-query) so results cannot become
      // order-dependent within a session: the driver's events.parquet stores
      // TIMESTAMP(NANOS), which needs this legacy flag to read at all.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Where a gate keeps its side files (TxLog tables, stream sources and
    * checkpoints, Derby databases) for the dataset at `dataDir`:
    * `<java.io.tmpdir>/graft-<basename>-<hash>/<name>`, the hash taken
    * over the dir's canonical path. The root is the same for every
    * process that names the same dir (a relative path or a symlink
    * included), so reruns find what earlier runs left; two datasets with
    * one basename in different parents get different roots. Creates the
    * root, not `name`. */
  def scratch(dataDir: String, name: String): String = {
    val canon = new java.io.File(dataDir).getCanonicalFile
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.getPath.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-${canon.getName.replaceAll("[^A-Za-z0-9._-]", "_")}-$hash")
      .getAbsoluteFile
    java.nio.file.Files.createDirectories(root.toPath)
    new java.io.File(root, name).getPath
  }

  /** Load one of the driver-generated tables from a scale-factor dir.
    *
    * The events table's `ts` physical type has varied across driver data
    * generations; normalize every variant to session-zone TIMESTAMP so the
    * whole query surface (unix_micros arithmetic, event-time streaming,
    * window functions) sees ONE type:
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; read as raw
    *    nanos (spark.sql.legacy.parquet.nanosAsLong, set by [[session]])
    *    and convert with integer division — a double division would lose
    *    precision above 2^53 ns.
    *  - timestamp[us] without timezone: arrives as TIMESTAMP_NTZ; cast to
    *    TIMESTAMP, which interprets the wall-clock in the session zone
    *    (pinned UTC by every entrypoint) — the same instant DuckDB reads.
    *
    * The schema comes from the file's own footer, read on the driver
    * ([[org.apache.spark.sql.graftbridge.FooterSchema]]), so loading a
    * table starts no Spark job; layouts Spark would infer differently
    * (partitioned dirs, summary files, `mergeSchema`) keep Spark's
    * inference. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = org.apache.spark.sql.graftbridge.FooterSchema.read(
      spark, s"$dir/$name.parquet")
    if (name != "events") df
    else df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts",
          df("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** Spread a compute-bound stage across every core. Parquet row groups are
    * the unit of split, so a single-file, single-row-group input pins the
    * whole first stage — scan + per-row compute fused by whole-stage codegen —
    * to ONE core. Operators with heavy per-row work (shingling, hashing,
    * regex scoring) call this on their input; shuffle-light queries must NOT
    * (an extra exchange costs more than it buys there).
    *
    * Scale behavior: no-op whenever the scan already has at least half as
    * many partitions as cores. A 100 TB table is ~800k splits, so this never
    * adds a shuffle at production scale. */
  def rebalanceForCompute[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] = {
    val spark = ds.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    // Estimate scan parallelism from PLAN METADATA only — `ds.rdd` would
    // force RDD lineage realization on every planning-path call. File-backed
    // plans estimate splits from total scan bytes / maxPartitionBytes (the
    // FileIndex size is already cached from planning); everything else reads
    // the physical plan's declared output partitioning. Both are O(plan).
    val plan = ds.queryExecution.sparkPlan
    val maxSplit = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val leafEstimate = plan.collectLeaves().map {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        // splits ≈ ceil(bytes / maxPartitionBytes); FileIndex size is cached
        math.max(1L, (f.relation.location.sizeInBytes + maxSplit - 1) / maxSplit)
      case r: org.apache.spark.sql.execution.RDDScanExec =>
        // the RDD already exists — reading its partition count is free
        r.rdd.getNumPartitions.toLong
      case r: org.apache.spark.sql.execution.ExternalRDDScanExec[_] =>
        r.rdd.getNumPartitions.toLong
      case _ => 1L // driver-local leaves (LocalTableScan, ranges) are tiny
    }.sum
    // a declared top-level partitioning (post repartition/coalesce) overrides
    // the leaf estimate; UnknownPartitioning(0) contributes nothing
    val estimated = math.max(leafEstimate, plan.outputPartitioning.numPartitions.toLong)
    if (estimated * 2 <= cores) ds.repartition(cores) else ds
  }

  /** Files the scan planner would read for `df`: each file-scan leaf's
    * own `listFiles` under its partition and data filters, summed. Runs
    * no job — the file-skipping check the pruning gates and specs make. */
  def plannedFiles(df: DataFrame): Int =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.size).sum
    }.sum

  /** Run independent Spark ACTIONS concurrently from a bounded pool and
    * return their results in input order (guide §2.6 "overlap independent
    * jobs"): the scheduler happily runs several jobs at once — a serial
    * loop of small write/agg jobs leaves the cluster idle through every
    * job's scheduling latency and straggler tail, while 2–4 in flight
    * back-fill each other. The cap stays small on purpose (enough to fill
    * the tail, not enough to fight for executors); at cluster scale the
    * same bound applies unchanged. Failures propagate after the pool
    * drains (the first cause, unwrapped). An interrupted caller cancels
    * the outstanding jobs and rethrows with its interrupt flag restored.
    * Single action short-circuits. */
  def overlapJobs[T](work: Seq[() => T], threads: Int = 4): Seq[T] =
    if (work.sizeIs <= 1) work.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(threads, work.size))
      try {
        val futs = work.map(w => pool.submit(
          new java.util.concurrent.Callable[T] { def call(): T = w() }))
        // Drain EVERY future before propagating the first failure (ADVICE
        // r16): rethrowing at the first failed get() would return control
        // to the caller — whose `finally` typically releases the shared
        // pinned inputs — while later-submitted jobs are still scanning
        // them, turning one real failure into a cascade of spurious
        // background failures and orphan files racing cleanup.
        val results = futs.map { f =>
          try Right(f.get())
          catch {
            case e: java.util.concurrent.ExecutionException =>
              Left(Option(e.getCause).getOrElse(e))
            case e: InterruptedException =>
              futs.foreach(_.cancel(true))
              Thread.currentThread().interrupt()
              throw e
            case e: Throwable => Left(e)
          }
        }
        results.collectFirst { case Left(e) => e }.foreach(throw _)
        results.collect { case Right(v) => v }
      } finally pool.shutdown()
    }

  /** Generic source facade covering the reference's input formats (SURVEY §2.2):
    * text lines, tab-separated KV text, parquet (canonical binary KV), fixed-length
    * binary via binaryFile. Compression is transparent as in the reference.
    */
  def source(
      spark: SparkSession,
      path: String,
      format: String = "parquet",
      options: Map[String, String] = Map.empty): DataFrame =
    format match {
      case "auto" => // AutoInputFormat parity: sniff format from extension
        val ext = path.replaceAll("[/\\\\]+$", "").split("\\.").last.toLowerCase
        val sniffed = ext match {
          case "parquet" => "parquet"
          case "csv" | "tsv" => "csv"
          case "json" | "jsonl" => "json"
          case "txt" | "log" | "gz" | "bz2" => "text"
          case _ => "parquet"
        }
        source(spark, path, sniffed, options)
      case "text"    => spark.read.options(options).text(path)
      case "kvtext"  => // KeyValueTextInputFormat parity: sep-split key/value lines
        spark.read
          .option("sep", options.getOrElse("sep", "\t"))
          .schema("key STRING, value STRING")
          .csv(path)
      case "parquet" => spark.read.options(options).parquet(path)
      case "csv"     => spark.read.options(options).csv(path)
      case "json"    => spark.read.options(options).json(path)
      case "binary"  => spark.read.options(options).format("binaryFile").load(path)
      case other     => spark.read.options(options).format(other).load(path)
    }

  /** XML-tag-delimited record scan (StreamXmlRecordReader parity, reference:
    * hadoop-tools/hadoop-streaming .../StreamInputFormat.java:35,
    * StreamXmlRecordReader.java:46): one row per begin..end span. Files are
    * read whole (records may cross line boundaries), so the split unit is
    * the file — adequate for many medium documents, same trade-off as
    * [[graft.sources.FixedWidth]]. */
  def xmlRecords(spark: SparkSession, path: String, tag: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val pattern = s"(?s)<$tag(?:\\s[^>]*)?>.*?</$tag>"
    spark.read.option("wholetext", "true").text(path)
      .select(explode(regexp_extract_all(col("value"), lit(pattern), lit(0)))
        .as("record"))
  }

  /** Named side outputs (MultipleOutputs parity, reference:
    * hadoop-mapreduce-client-core .../lib/output/MultipleOutputs.java:179 —
    * the `write(name, k, v)` form with N named streams): one cached pass over
    * the input, one filtered write per named output. The cache means the
    * upstream plan executes once however many outputs there are; for
    * data-driven paths (the `baseOutputPath` form) use `sink(partitionBy)`
    * instead. Rows matching several predicates go to every matching output,
    * rows matching none go nowhere — exactly the reference's semantics. */
  def namedSinks(
      df: DataFrame, base: String,
      outputs: Map[String, org.apache.spark.sql.Column],
      format: String = "parquet"): Unit = {
    val cached = df.persist()
    try {
      cached.count() // materialize once before the N filtered writes
      outputs.foreach { case (name, pred) =>
        sink(cached.filter(pred), s"$base/$name", format)
      }
    } finally cached.unpersist()
  }

  /** [[namedSinks]] with the reference's SINGLE-COMMIT semantics
    * (MultipleOutputs.java:179 under one FileOutputCommitter job
    * commit): every named output stages under one hidden job dir, then
    * the publish renames each into place and writes ONE
    * `_GRAFT_MULTI_SUCCESS` marker naming every output LAST — the
    * commit signal, exactly Hadoop's _SUCCESS discipline (the
    * reference's "single transaction" is likewise a single commitJob
    * call, not multi-dir atomicity — no plain filesystem has that). An
    * observer honoring the marker ([[readNamed]]) sees all outputs or
    * none: a crash before the marker leaves only invisible staging
    * (swept by the next attempt); a re-publish retracts the marker
    * first, so a half-swapped republish reads as uncommitted, never as
    * a mix. */
  def namedSinksAtomic(
      df: DataFrame, base: String,
      outputs: Map[String, org.apache.spark.sql.Column],
      format: String = "parquet"): Unit = {
    require(outputs.nonEmpty, "namedSinksAtomic needs at least one output")
    outputs.keys.foreach(n => require(
      !n.startsWith(".") && !n.startsWith("_") && !n.contains("/"),
      s"named output '$n' must be a plain visible dirname"))
    val spark = df.sparkSession
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(basePath)
    // sweep dead staging from crashed prior attempts
    fs.listStatus(basePath)
      .filter(_.getPath.getName.startsWith(".staging_"))
      .foreach(s => fs.delete(s.getPath, true))
    val staging = new org.apache.hadoop.fs.Path(base,
      s".staging_${System.nanoTime()}")
    val marker = new org.apache.hadoop.fs.Path(base, "_GRAFT_MULTI_SUCCESS")
    val cached = df.persist()
    try {
      cached.count() // materialize once before the N filtered writes
      outputs.foreach { case (name, pred) =>
        sink(cached.filter(pred), s"$staging/$name", format)
      }
      // publish: retract the marker (un-commit), swap every output,
      // then the marker lands last with the committed name list
      fs.delete(marker, false)
      outputs.keys.foreach { name =>
        val dst = new org.apache.hadoop.fs.Path(base, name)
        fs.delete(dst, true)
        require(fs.rename(new org.apache.hadoop.fs.Path(staging, name), dst),
          s"multi-output publish failed renaming '$name' into place")
      }
      val out = fs.create(marker, true)
      try out.write((outputs.keys.toSeq.sorted.mkString("\n") + "\n")
        .getBytes("UTF-8"))
      finally out.close()
      fs.delete(staging, true)
      ()
    } finally { cached.unpersist(); () }
  }

  /** Read one output of a [[namedSinksAtomic]] job, honoring the commit
    * marker: a missing marker (crashed publish, mid-republish) or an
    * unlisted name refuses loudly instead of serving a torn view. */
  def readNamed(spark: SparkSession, base: String, name: String,
      format: String = "parquet"): DataFrame = {
    val marker = new org.apache.hadoop.fs.Path(base, "_GRAFT_MULTI_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed =
      try {
        val in = fs.open(marker)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().filter(_.nonEmpty).toSet
        finally in.close()
      } catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalStateException(
            s"graft: $base has no committed multi-output marker — the " +
              "job never published (or is republishing); refusing a " +
              "torn read")
      }
    require(committed.contains(name),
      s"graft: '$name' is not in $base's committed output set " +
        s"(${committed.toSeq.sorted.mkString(", ")})")
    source(spark, s"$base/$name", format)
  }

  /** Sorted bucketed table sink (MapFileOutputFormat parity, reference:
    * hadoop-mapreduce-client-core .../lib/output/MapFileOutputFormat.java:49
    * — sorted output + index for key lookup): bucket pruning serves the
    * "index", bucket-local sort the ordering; co-located joins come free. */
  def sinkBucketed(df: DataFrame, tableName: String, buckets: Int,
      key: String, sortCols: Seq[String] = Nil): Unit = {
    val sort = if (sortCols.isEmpty) Seq(key) else sortCols
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(sort.head, sort.tail: _*)
      .saveAsTable(tableName)
  }

  /** Sink facade covering SURVEY §2.3: text KV lines, parquet, partitioned
    * multi-output (MultipleOutputs parity via partitionBy), noop (NullOutputFormat).
    */
  def sink(
      df: DataFrame,
      path: String,
      format: String = "parquet",
      mode: String = "overwrite",
      partitionBy: Seq[String] = Nil,
      options: Map[String, String] = Map.empty): Unit = {
    val w0 = df.write.mode(mode).options(options)
    val w = if (partitionBy.nonEmpty) w0.partitionBy(partitionBy: _*) else w0
    format match {
      case "text"    => w.text(path)
      case "kvtext"  => w.option("sep", options.getOrElse("sep", "\t")).csv(path)
      case "parquet" => w.parquet(path)
      case "csv"     => w.csv(path)
      case "noop"    => df.write.mode("overwrite").format("noop").save()
      case other     => w.format(other).save(path)
    }
  }
}
