package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Graft
import graft.functions.{KeyFieldSpec, TextFunctions}
import graft.operators._

/** One registry entry per implemented operator from SURVEY.md §2 (+ the
  * LLM-pipeline extensions). `run` is the Spark-native implementation;
  * `oracle` is semantically-identical DuckDB SQL over the same parquet
  * tables for the driver's hash-match gate.
  *
  * Determinism rules applied throughout (so hash-compare is meaningful):
  * - double SUMs go through fixed-scale decimal (exact, order-independent;
  *   precision 18 for the compact long-backed fast path — see AggOps);
  * - derived doubles (ratios, stddev, similarities) are rounded to 6 dp;
  * - every query has a total ORDER BY;
  * - row_number outputs are cast to long to match DuckDB's BIGINT.
  */
/** @param stage optional fixture staging run OUTSIDE Bench's timed window
  *   (and unconditionally before `run` in Verify): for gates whose input
  *   is persisted pipeline STATE (a stored clustering, a signature
  *   table), recomputing that state inside the timed body charges the
  *   incremental operator for the from-scratch work it exists to avoid
  *   (VERDICT r10 finding 2). Staging must be idempotent — it re-runs
  *   before every bench/verify pass of the query. */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    stage: Option[(SparkSession, String) => Unit] = None)

object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Graft.table(s, dir, name)

  /** Pin the shuffle-partition count around a streaming query's start: a
    * stateful streaming query keeps one state store per shuffle partition
    * (per side, for joins), and at gate feed sizes that machinery — not the
    * data — dominates. The setting is baked into the query at start; the
    * finally-restore means batch plans before/after are untouched. At
    * production scale the pin is the same knob, just set higher. */
  private def pinnedParts[T](s: SparkSession, n: Int)(body: => T): T = {
    val saved = s.conf.get("spark.sql.shuffle.partitions")
    try { s.conf.set("spark.sql.shuffle.partitions", n.toString); body }
    finally s.conf.set("spark.sql.shuffle.partitions", saved)
  }

  /** Run one streaming gate's query to completion: start `writer` with a
    * single AvailableNow trigger under a pinned state width of 4
    * ([[pinnedParts]]) and wait for it. */
  private def runAvailableNow(s: SparkSession,
      writer: => org.apache.spark.sql.streaming.DataStreamWriter[_])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val q = pinnedParts(s, 4)(writer
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start())
    q.awaitTermination()
    q
  }

  /** [[runAvailableNow]] into the in-memory sink `name`; returns its table. */
  private def runToMemory(s: SparkSession, df: DataFrame, name: String,
      outputMode: String): DataFrame = {
    runAvailableNow(s, df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode))
    s.table(name)
  }

  // per-dataset fixture probes are memoized for the life of the process:
  // the test tables are immutable within a session, and these probes
  // (schema generation sniff, sentinel max-ts scan) are fixture prep that
  // otherwise re-bills every benchmark repeat of a streaming gate
  private val tsGenMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private[graft] val maxTsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val fixtureMemo =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Run `body` once per key per process — for gate FIXTURE setup (loading
    * a JDBC table, registering an external table) that is another gate's
    * measured operator or pure scaffolding. Keeps repeat timings measuring
    * the operator under test, while a fresh process (Verify, the driver)
    * still builds everything it needs on first touch. */
  private def fixtureOnce(key: String)(body: => Unit): Unit =
    if (fixtureMemo.add(key)) {
      // un-mark on failure (ADVICE r16): the key lands BEFORE the build as
      // the concurrency guard, but a build that dies mid-way (one split
      // written, the next throws) must not leave the memo claiming the
      // fixture exists — a same-process retry would then silently read a
      // partial directory instead of rebuilding
      try body
      catch { case e: Throwable => fixtureMemo.remove(key); throw e }
    }

  private def rmTreeQ(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(q => { java.nio.file.Files.delete(q); () })
    }
  }

  /** Build a deterministic file-stream SOURCE DIRECTORY once per process —
    * fixture prep in the [[QuerySpec.stage]] sense (VERDICT r10 finding 2:
    * rebuilding a gate's persisted input inside the timed body charges the
    * operator under test for scaffolding). The split files are a pure
    * function of the immutable test tables, so the build memoizes per
    * process; a fresh process (Verify, the driver) rebuilds on first
    * touch. `put(df, name, mtime)` writes one coalesced split and pins its
    * mod-time — file sources trigger in mtime order, so arrival order is
    * part of the fixture, not an accident of staging speed. The memo key
    * is `srcDir` itself, a scratch path unique per dataset and gate. */
  private def stageSplitDir(srcDir: java.nio.file.Path)(
      build: ((DataFrame, String, Long) => Unit) => Unit): Unit =
    fixtureOnce(srcDir.toString) {
      rmTreeQ(srcDir.toString)
      java.nio.file.Files.createDirectories(srcDir)
      def put(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = s"$srcDir/_stage_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.endsWith(".parquet")).get
        val dest = srcDir.resolve(name)
        java.nio.file.Files.move(part.toPath, dest)
        if (mtime > 0) { dest.toFile.setLastModified(mtime); () }
        rmTreeQ(tmp)
      }
      build(put)
    }

  /** The events table's `ts` physical type varies across test-data
    * generations: TIMESTAMP(NANOS) (readable only as a raw long under
    * nanosAsLong, which [[graft.core.Graft.session]] sets) vs plain
    * timestamp[us] (arrives as TIMESTAMP_NTZ). True when this dataset is
    * the raw-nanos generation. */
  private def eventsTsIsRawNanos(s: SparkSession, dir: String): Boolean =
    tsGenMemo.computeIfAbsent(dir, _ =>
      s.read.parquet(s"$dir/events.parquet").schema("ts")
        .dataType == org.apache.spark.sql.types.LongType)

  /** The scratch dir `name` ([[Graft.scratch]]) with a symlink to the
    * dataset's `table`.parquet in it: a file stream source reads every
    * file of a directory, so each stream gets a directory of its own. The
    * link target is absolute, so a relative data dir resolves too. */
  private def linkedSource(dir: String, name: String,
      table: String): java.nio.file.Path = {
    val streamDir = java.nio.file.Paths.get(Graft.scratch(dir, name))
    java.nio.file.Files.createDirectories(streamDir)
    val link = streamDir.resolve(s"$table.parquet")
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(dir, s"$table.parquet").toAbsolutePath)
    streamDir
  }

  /** File-stream source over the events table, generation-robust: the
    * streaming gates all read events through this ONE builder so the ts
    * physical-type variance (see [[eventsTsIsRawNanos]]) is absorbed here.
    * Exposes the symlinked per-sf stream dir (file stream sources list
    * directories), and returns the feed with two normalized columns on top
    * of the raw six: `ts_us` (exact event-time micros, long — integer
    * division from nanos, so no double rounding) and `event_time`
    * (session-zone timestamp; every entrypoint pins UTC, the same instant
    * the DuckDB oracle reads). `srcName` picks a distinct scratch dir
    * ([[Graft.scratch]]) for gates that add side files to the source
    * listing (the outer-join sentinel). */
  private def eventsStream(s: SparkSession, dir: String,
      srcName: String = "streamsrc"): DataFrame = {
    val streamDir = linkedSource(dir, srcName, "events")
    val rawNanos = eventsTsIsRawNanos(s, dir)
    val schema =
      if (rawNanos)
        "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"
      else
        "event_id LONG, ts TIMESTAMP_NTZ, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    val tsUs =
      if (rawNanos) expr("ts div 1000")
      else unix_micros(col("ts").cast("timestamp"))
    s.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts_us", tsUs.cast("long"))
      .withColumn("event_time", timestamp_micros(col("ts_us")))
  }

  import AggOps.{avgExact, sumExact}

  // ---------------------------------------------------------------- core agg

  private val q1Agg = QuerySpec(
    "q1_agg",
    (s, dir) => {
      // 8 aggregates x 600k rows is compute-bound; fan the fused scan+agg
      // stage across cores when the input arrives as a single split
      val li = core.Graft.rebalanceForCompute(t(s, dir, "lineitem"))
      li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumExact(col("l_quantity")).as("sum_qty"),
          sumExact(col("l_extendedprice")).as("sum_base_price"),
          sumExact(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .as("sum_charge"),
          avgExact(col("l_quantity")).as("avg_qty"),
          avgExact(col("l_extendedprice")).as("avg_price"),
          avgExact(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(20,6))) AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE)/COUNT(*) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE)/COUNT(*) AS avg_price,
      CAST(SUM(CAST(l_discount AS DECIMAL(20,6))) AS DOUBLE)/COUNT(*) AS avg_disc,
      COUNT(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""))

  private val qWordcount = QuerySpec(
    "q_wordcount",
    (s, dir) => MapOps.wordCount(t(s, dir, "documents"), "text").orderBy("word"),
    Some("""SELECT word, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents) t
      WHERE word <> '' GROUP BY word ORDER BY word"""))

  private val qGrep = QuerySpec(
    "q_grep",
    (s, dir) => MapOps.grep(t(s, dir, "documents"), "text", "sc[a-z]+"),
    Some("""SELECT "match", COUNT(*) AS cnt
      FROM (SELECT unnest(regexp_extract_all(text, 'sc[a-z]+')) AS "match" FROM documents) t
      GROUP BY "match" ORDER BY cnt DESC, "match""""))

  private val qInverse = QuerySpec(
    "q_inverse",
    (s, dir) =>
      MapOps.inverse(t(s, dir, "events").select(col("event_id"), col("event_type")))
        .orderBy("v"),
    Some("SELECT event_type AS k, event_id AS v FROM events ORDER BY v"))

  private val qFieldsel = QuerySpec(
    "q_fieldsel",
    (s, dir) => {
      val docs = core.Graft.rebalanceForCompute(t(s, dir, "documents"))
        .filter(size(split(col("text"), " ")) >= 6)
      MapOps.fieldSelect(docs, col("text"), "2,0:1,3-5", " ", carry = Seq("doc_id"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      f[3] || ' ' || f[1] AS key,
      f[2] || ' ' || array_to_string(f[4:6], ' ') AS value
      FROM (SELECT doc_id, string_split(text, ' ') AS f FROM documents) t
      WHERE len(f) >= 6 ORDER BY doc_id"""))

  private val qMultiAgg = QuerySpec(
    "q_multi_agg",
    (s, dir) =>
      {
        val aggs = AggOps.descriptorAggs(col("value")) ++ Seq(
          AggOps.uniqCapped(col("user_id"), 50).as("uniq_users_capped"),
          countDistinct(col("user_id")).as("uniq_users"))
        t(s, dir, "events")
          .groupBy("event_type")
          .agg(aggs.head, aggs.tail: _*)
          .orderBy("event_type")
      },
    Some("""SELECT event_type,
      CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value,
      MIN(value) AS min_value, MAX(value) AS max_value, COUNT(*) AS cnt,
      LEAST(COUNT(DISTINCT user_id), 50) AS uniq_users_capped,
      COUNT(DISTINCT user_id) AS uniq_users
      FROM events GROUP BY event_type ORDER BY event_type"""))

  private val qHistogram = QuerySpec(
    "q_histogram",
    (s, dir) =>
      AggOps.valueHistogram(t(s, dir, "events"), col("event_type"), col("user_id"))
        .orderBy("key"),
    Some("""SELECT key, COUNT(*) AS n_distinct, MIN(freq) AS min_freq,
      ROUND(quantile_cont(freq, 0.5), 6) AS median_freq,
      MAX(freq) AS max_freq,
      ROUND(CAST(SUM(freq) AS DOUBLE)/COUNT(*), 6) AS mean_freq,
      ROUND(stddev_pop(freq), 6) AS stddev_freq
      FROM (SELECT event_type AS key, user_id, COUNT(*) AS freq
            FROM events GROUP BY 1, 2) t
      GROUP BY key ORDER BY key"""))

  private val qWordstats = QuerySpec(
    "q_wordstats",
    (s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("word"))
        .agg(
          count(lit(1)).as("n_words"),
          (sum(length(col("word"))).cast("double") / count(lit(1))).as("avg_len"),
          round(expr("percentile(length(word), 0.5)"), 6).as("median_len"),
          round(stddev_pop(length(col("word"))), 6).as("stddev_len")),
    Some("""SELECT COUNT(*) AS n_words,
      CAST(SUM(LEN(word)) AS DOUBLE)/COUNT(*) AS avg_len,
      ROUND(quantile_cont(LEN(word), 0.5), 6) AS median_len,
      ROUND(stddev_pop(LEN(word)), 6) AS stddev_len
      FROM (SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents) t
      WHERE word <> ''"""))

  // --------------------------------------------- secondary sort / windowing

  // (l_orderkey, l_linenumber) is NOT unique in the synthetic data — the
  // within-group order needs the full tuple as tiebreak to be deterministic.
  private val qSecondarySort = QuerySpec(
    "q_secondary_sort",
    (s, dir) =>
      GroupOps.withGroupOrder(
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"),
        Seq(col("l_orderkey")),
        Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))) { w =>
        Seq("run_qty" -> sum(col("l_quantity").cast("decimal(18,6)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      }.orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"),
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
      CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) OVER (
        PARTITION BY l_orderkey
        ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_qty
      FROM lineitem
      ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity"""))

  private val qWindowTopk = QuerySpec(
    "q_window_topk",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        ROW_NUMBER() OVER (PARTITION BY o_custkey
          ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t WHERE rn <= 3 ORDER BY o_custkey, rn"""))

  private val qSessionize = QuerySpec(
    "q_sessionize",
    (s, dir) =>
      GroupOps.sessionize(t(s, dir, "events"), col("user_id"), col("ts"),
          col("event_id"), 1800000000L)
        .groupBy("user_id")
        .agg(max(col("session_id")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id"),
    Some("""SELECT user_id, CAST(SUM(ns) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      FROM (SELECT user_id,
              CASE WHEN prev IS NULL OR epoch_us(ts) - prev > 1800000000
                   THEN 1 ELSE 0 END AS ns
            FROM (SELECT user_id, ts, LAG(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS prev
                  FROM events) t) g
      GROUP BY user_id ORDER BY user_id"""))

  private val qTumblingWindow = QuerySpec(
    "q_tumbling_window",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), sumExact(col("value")).as("sum_value"))
        .orderBy("hour", "event_type"),
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
      event_type, COUNT(*) AS cnt,
      CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""))

  private val qRollup = QuerySpec(
    "q_rollup",
    (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sumExact(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("cnt"), col("sum_qty"))
        .orderBy("rf", "ls"),
    Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
      COALESCE(l_linestatus, 'ALL') AS ls, COUNT(*) AS cnt,
      CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY rf, ls"""))

  // ------------------------------------------------------------------ joins

  private val qJoinRevenue = QuerySpec(
    "q_join_revenue",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      // Push the lineitem aggregation below the join: 600k rows shrink to
      // 150k (one per order) BEFORE joining, the orderkey hash partitioning
      // from the groupBy is reused by the join (no extra shuffle), and
      // countDistinct(o_orderkey) degenerates to count(*) — no expand. At
      // 100 TB this is the difference between shuffling the fact table
      // through three joins and shuffling a per-order rollup once.
      // Per-order partial stays decimal (not double) so the two-level sum
      // remains exact and order-independent.
      val perOrder = li
        .groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).as("rev_part"))
      perOrder.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          sum(col("rev_part")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("r_name", "n_name")
    },
    Some("""SELECT r_name, n_name,
      CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS revenue,
      COUNT(DISTINCT o_orderkey) AS n_orders
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name"""))

  private val qJoinOuter = QuerySpec(
    "q_join_outer",
    (s, dir) => {
      val cAgg = t(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val sAgg = t(s, dir, "supplier")
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      JoinOps.outerJoin(Seq(cAgg, sAgg), "nationkey")
        .select(col("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    },
    Some("""SELECT COALESCE(a.k, b.k) AS nationkey,
      COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
      FROM (SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY 1) a
      FULL OUTER JOIN (SELECT s_nationkey AS k, COUNT(*) AS n_supp
                       FROM supplier GROUP BY 1) b ON a.k = b.k
      ORDER BY nationkey"""))

  private val qJoinOverride = QuerySpec(
    "q_join_override",
    (s, dir) => {
      val a = t(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(round(avgExact(col("c_acctbal")), 6).as("val"))
      val b = t(s, dir, "supplier")
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(round(avgExact(col("s_acctbal")), 6).as("val"))
      JoinOps.overrideJoin(Seq(a, b), "nationkey", "val").orderBy("nationkey")
    },
    Some("""SELECT COALESCE(a.k, b.k) AS nationkey, COALESCE(b.val, a.val) AS val
      FROM (SELECT c_nationkey AS k,
              ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE)/COUNT(*), 6) AS val
            FROM customer GROUP BY 1) a
      FULL OUTER JOIN
           (SELECT s_nationkey AS k,
              ROUND(CAST(SUM(CAST(s_acctbal AS DECIMAL(20,6))) AS DOUBLE)/COUNT(*), 6) AS val
            FROM supplier GROUP BY 1) b ON a.k = b.k
      ORDER BY nationkey"""))

  private val qJoinSemi = QuerySpec(
    "q_join_semi",
    (s, dir) =>
      JoinOps.semiJoin(
        t(s, dir, "customer").select(col("c_custkey").as("key"), col("c_name")),
        t(s, dir, "orders").select(col("o_custkey").as("key")), "key")
        .orderBy("key"),
    Some("""SELECT c_custkey AS key, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY key"""))

  private val qJoinAnti = QuerySpec(
    "q_join_anti",
    (s, dir) =>
      // anti-join against RECENT orders: every synthetic customer has
      // some lifetime order, so the unscoped anti-set is empty — a
      // 0-row gate proves nothing; the dormant-since-2000 set is real
      JoinOps.antiJoin(
        t(s, dir, "customer").select(col("c_custkey").as("key"), col("c_name")),
        t(s, dir, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
          .select(col("o_custkey").as("key")), "key")
        .orderBy("key"),
    Some("""SELECT c_custkey AS key, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '2000-01-01')
      ORDER BY key"""))

  private val qTaggedJoin = QuerySpec(
    "q_tagged_join",
    (s, dir) =>
      JoinOps.taggedJoin(
        t(s, dir, "orders").select(col("o_orderkey").as("key"), col("o_totalprice")),
        t(s, dir, "lineitem").select(col("l_orderkey").as("key"),
          col("l_linenumber"), col("l_partkey"), col("l_suppkey"), col("l_quantity")),
        "key",
        leftOrder = Seq(col("o_totalprice")),
        rightOrder = Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity")),
        maxPerGroup = 2)
        .orderBy("key", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"),
    Some("""SELECT o_orderkey AS key, o_totalprice, l_linenumber, l_partkey,
        l_suppkey, l_quantity
      FROM orders JOIN (
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity FROM (
          SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
            ROW_NUMBER() OVER (PARTITION BY l_orderkey
              ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS rn
          FROM lineitem) x WHERE rn <= 2) l
      ON o_orderkey = l_orderkey
      ORDER BY key, l_linenumber, l_partkey, l_suppkey, l_quantity"""))

  // ------------------------------------------------- sort / top-k / sampling

  private val qSortTotal = QuerySpec(
    "q_sort_total",
    (s, dir) =>
      SortOps.globalRowNumber(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc))
        .orderBy("rn"),
    Some("""SELECT o_orderkey, o_totalprice,
      ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders ORDER BY rn"""))

  private val qTopk = QuerySpec(
    "q_topk",
    (s, dir) =>
      // rank the k winners with the RDD offset trick (globalRowNumber), not a
      // global window — same result, no single-partition WindowExec
      SortOps.globalRowNumber(
        SortOps.topK(
          t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), 100),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc))
        .orderBy("rn"),
    Some("""SELECT o_orderkey, o_totalprice,
      ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""))

  private val qKeyfieldSort = QuerySpec(
    "q_keyfield_sort",
    (s, dir) =>
      SortOps.globalRowNumber(
        t(s, dir, "events").select("event_id", "event_type", "value"),
        KeyFieldSpec.orderColumnsNamed(
          Seq(col("event_type"), col("value"), col("event_id")), "-k1,1 -k2,2nr -k3,3n"))
        .orderBy("rn"),
    Some("""SELECT event_id, event_type, "value",
      ROW_NUMBER() OVER (ORDER BY event_type, "value" DESC, event_id) AS rn
      FROM events ORDER BY rn"""))

  private val qSampleMod = QuerySpec(
    "q_sample_mod",
    (s, dir) =>
      SortOps.modSample(
        t(s, dir, "events").select("event_id", "user_id", "event_type"),
        col("event_id"), 100)
        .orderBy("event_id"),
    Some("""SELECT event_id, user_id, event_type FROM events
      WHERE event_id % 100 = 0 ORDER BY event_id"""))

  private val qSampleMd5 = QuerySpec(
    "q_sample_md5",
    (s, dir) =>
      SortOps.md5Sample(t(s, dir, "documents").select("doc_id", "text"),
          col("text"), "0")
        .select("doc_id")
        .orderBy("doc_id"),
    Some("""SELECT doc_id FROM documents
      WHERE substr(md5(text), 1, 1) = '0' ORDER BY doc_id"""))

  // ---------------------------------------------------------------- set ops

  private val qUnionTagged = QuerySpec(
    "q_union_tagged",
    (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"), lit("cust").as("src"))
        .unionByName(
          t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"), lit("supp").as("src")))
        .groupBy("nationkey", "src")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("nationkey", "src"),
    Some("""SELECT nationkey, src, COUNT(*) AS cnt FROM (
        SELECT c_nationkey AS nationkey, 'cust' AS src FROM customer
        UNION ALL SELECT s_nationkey, 'supp' FROM supplier) t
      GROUP BY nationkey, src ORDER BY nationkey, src"""))

  private val qIntersect = QuerySpec(
    "q_intersect",
    (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey"),
    Some("""SELECT c_nationkey AS nationkey FROM customer
      INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey"""))

  private val qExcept = QuerySpec(
    "q_except",
    (s, dir) =>
      // orders seen in lineitem EXCEPT finished orders — non-empty by
      // construction (open/pending statuses exist); the original
      // customer-vs-supplier nation EXCEPT was empty on dense synthetic
      // data, gating nothing
      t(s, dir, "lineitem").select(col("l_orderkey").as("orderkey"))
        .except(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey").as("orderkey")))
        .orderBy("orderkey"),
    Some("""SELECT l_orderkey AS orderkey FROM lineitem
      EXCEPT SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
      ORDER BY orderkey"""))

  // ------------------------------------------------------------ pipe (UDF)

  private val qPipeWc = QuerySpec(
    "q_pipe_wc",
    (s, dir) => {
      val lines = PipeOps.pipeMap(
        t(s, dir, "documents").select("text"),
        Seq("/bin/sh", "-c", "tr -s ' ' '\\n'"))
      lines.filter(col("line") =!= "")
        .groupBy(col("line").as("word"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("word")
    },
    Some("""SELECT word, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents) t
      WHERE word <> '' GROUP BY word ORDER BY word"""))

  /** Binary-safe piping ([[PipeOps.pipeMapBinary]], typed-bytes parity):
    * payloads deliberately containing tabs AND newlines round-trip through
    * an external `cat` bit-for-bit — raw framing would split them into
    * broken lines. The md5 of each recovered payload is checked against the
    * oracle computing the same bytes directly. */
  private val qPipeBinary = QuerySpec(
    "q_pipe_binary",
    (s, dir) => {
      val payload = concat(substring(col("text"), 1, 40), lit("\tmid\n"),
        col("doc_id").cast("string"))
      val framed = t(s, dir, "documents")
        .select(col("doc_id").cast("string").as("k"), payload.as("v"))
      val out = PipeOps.pipeMapBinary(framed, Seq("cat"))
      PipeOps.parseBinary(out, Seq("k", "v"))
        .select(col("k").cast("string").cast("long").as("doc_id"),
          md5(col("v")).as("payload_md5"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      md5(substr(text, 1, 40) || chr(9) || 'mid' || chr(10) ||
          CAST(doc_id AS VARCHAR)) AS payload_md5
      FROM documents ORDER BY doc_id"""))

  /** REAL Hadoop SequenceFile round-trip (SequenceFileInput/OutputFormat,
    * reference: hadoop-mapreduce-client-core .../lib/input/
    * SequenceFileInputFormat.java:38, output/SequenceFileOutputFormat
    * .java:40): Text-keyed container written with saveAsSequenceFile, read
    * back with sc.sequenceFile — the actual wire format, not a columnar
    * stand-in. Parquet stays the engine's canonical store; this gate proves
    * the legacy container interops both directions. */
  private val qSeqfileRoundtrip = QuerySpec(
    "q_seqfile_roundtrip",
    (s, dir) => {
      import s.implicits._
      val out = Graft.scratch(dir, "seqfile")
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      t(s, dir, "documents")
        .select(col("doc_id").cast("string"), col("lang"))
        .as[(String, String)]
        .rdd.saveAsSequenceFile(out)
      s.sparkContext.sequenceFile[String, String](out)
        .toDF("doc_id", "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"))
        .orderBy("lang")
    },
    Some("""SELECT lang, COUNT(*) AS n_docs,
      MIN(CAST(doc_id AS VARCHAR)) AS min_id
      FROM documents GROUP BY 1 ORDER BY 1"""))

  /** MapFile READ interop ([[graft.sources.LegacyContainers.readMapFile]],
    * reference: COMMON-IO io/MapFile.java:59): the fixture writes a genuine
    * MapFile with the Hadoop writer (sorted Text append + index sidecar);
    * the engine scans its `data` member through the splittable SequenceFile
    * path. Existing-data migration is the one consumer, so read-only. */
  private val qMapfileRead = QuerySpec(
    "q_mapfile_read",
    (s, dir) => {
      import org.apache.hadoop.io.{MapFile, Text}
      val out = Graft.scratch(dir, "mapfile")
      val conf = s.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(conf).delete(p, true)
      // fixture setup, not the operator: MapFile.Writer demands sorted
      // single-writer appends, so the container is authored driver-side
      val rows = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(format_string("%08d", col("doc_id")).as("k"), col("lang"))
        .orderBy("k").collect()
      val w = new MapFile.Writer(conf, p,
        MapFile.Writer.keyClass(classOf[Text]),
        MapFile.Writer.valueClass(classOf[Text]))
      rows.foreach(r => w.append(new Text(r.getString(0)), new Text(r.getString(1))))
      w.close()
      graft.sources.LegacyContainers.readMapFile(s, out)
        .groupBy(col("value").as("lang"))
        .agg(count(lit(1)).as("n_docs"), min("key").as("min_key"))
        .orderBy("lang")
    },
    Some("""SELECT lang, COUNT(*) AS n_docs,
      MIN(printf('%08d', doc_id)) AS min_key
      FROM documents WHERE doc_id < 200 GROUP BY 1 ORDER BY 1"""))

  /** MapFile WRITE interop
    * ([[graft.sources.LegacyContainers.writeMapFile]], reference:
    * MR-CORE .../lib/output/MapFileOutputFormat.java:49, COMMON-IO
    * io/BloomMapFile.java:49): the ENGINE writes genuine BloomMapFile
    * containers — range-partitioned, one sorted container per partition
    * with data + index + bloom sidecars, the one-per-reducer layout — and
    * reads them back through the splittable scan. Closes the last
    * container asymmetry: pipelines can hand data BACK to a legacy
    * consumer expecting MapFile lookups. */
  private val qMapfileRoundtrip = QuerySpec(
    "q_mapfile_roundtrip",
    (s, dir) => {
      val out = Graft.scratch(dir, "mapfile_rt")
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.sources.LegacyContainers.writeMapFile(
        t(s, dir, "documents")
          .select(format_string("%08d", col("doc_id")).as("k"), col("lang")),
        out, bloom = true)
      graft.sources.LegacyContainers.readMapFile(s, s"$out/part-r-*")
        .groupBy(col("value").as("lang"))
        .agg(count(lit(1)).as("n_docs"), min("key").as("min_key"))
        .orderBy("lang")
    },
    Some("""SELECT lang, COUNT(*) AS n_docs,
      MIN(printf('%08d', doc_id)) AS min_key
      FROM documents GROUP BY 1 ORDER BY 1"""))

  /** TFile READ interop ([[graft.sources.LegacyContainers.readTFile]],
    * reference: COMMON-IO io/file/tfile/TFile.java): fixture writes two
    * genuine memcmp-sorted TFiles with the Hadoop writer; the reader
    * parallelizes whole files across tasks (TFile has no InputFormat —
    * migration reads, not query storage). */
  private val qTfileRead = QuerySpec(
    "q_tfile_read",
    (s, dir) => {
      import org.apache.hadoop.io.file.tfile.TFile
      val out = Graft.scratch(dir, "tfile")
      val conf = s.sparkContext.hadoopConfiguration
      val base = new org.apache.hadoop.fs.Path(out)
      val fs = base.getFileSystem(conf)
      fs.delete(base, true)
      fs.mkdirs(base)
      val rows = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(format_string("%08d", col("doc_id")).as("k"), col("lang"))
        .orderBy("k").collect()
      Seq(0, 1).foreach { half =>
        val f = new org.apache.hadoop.fs.Path(base, f"part-$half%05d.tfile")
        val os = fs.create(f)
        val w = new TFile.Writer(os, 64 * 1024, TFile.COMPRESSION_NONE,
          TFile.COMPARATOR_MEMCMP, conf)
        rows.filter(r => (r.getString(0).toLong < 100) == (half == 0))
          .foreach(r => w.append(r.getString(0).getBytes("UTF-8"),
            r.getString(1).getBytes("UTF-8")))
        w.close(); os.close()
      }
      graft.sources.LegacyContainers.readTFile(s, s"$out/part-*.tfile")
        .groupBy(col("value").as("lang"))
        .agg(count(lit(1)).as("n_docs"), min("key").as("min_key"))
        .orderBy("lang")
    },
    Some("""SELECT lang, COUNT(*) AS n_docs,
      MIN(printf('%08d', doc_id)) AS min_key
      FROM documents WHERE doc_id < 200 GROUP BY 1 ORDER BY 1"""))

  /** BloomMapFile READ interop ([[graft.sources.LegacyContainers.readMapFile]],
    * reference: COMMON-IO io/BloomMapFile.java:49): the fixture writes a
    * genuine BloomMapFile with the Hadoop writer — same dir layout as a
    * MapFile plus a `bloom` sidecar (DynamicBloomFilter) — and the gate
    * REQUIRES the sidecar to exist before scanning, proving the claim that
    * the sidecar-ignoring SequenceFile scan covers this container too.
    * Negative-membership at query time lives on the parquet side
    * (q_bloom_join); this is the migration read. */
  private val qBloomMapfileRead = QuerySpec(
    "q_bloommapfile_read",
    (s, dir) => {
      import org.apache.hadoop.io.{BloomMapFile, MapFile, Text}
      val out = Graft.scratch(dir, "bloommapfile")
      val conf = s.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(conf)
      fs.delete(p, true)
      val rows = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(format_string("%08d", col("doc_id")).as("k"), col("lang"))
        .orderBy("k").collect()
      val w = new BloomMapFile.Writer(conf, p,
        MapFile.Writer.keyClass(classOf[Text]),
        MapFile.Writer.valueClass(classOf[Text]))
      rows.foreach(r => w.append(new Text(r.getString(0)), new Text(r.getString(1))))
      w.close()
      require(fs.exists(new org.apache.hadoop.fs.Path(p, "bloom")),
        "fixture must be a genuine BloomMapFile (bloom sidecar populated)")
      graft.sources.LegacyContainers.readMapFile(s, out)
        .groupBy(col("value").as("lang"))
        .agg(count(lit(1)).as("n_docs"), min("key").as("min_key"))
        .orderBy("lang")
    },
    Some("""SELECT lang, COUNT(*) AS n_docs,
      MIN(printf('%08d', doc_id)) AS min_key
      FROM documents WHERE doc_id < 200 GROUP BY 1 ORDER BY 1"""))

  /** Typed-Writable container interop ([[graft.sources.LegacyContainers
    * .readSequence]]): a SequenceFile with IntWritable keys and Text values
    * — the reference's common non-Text shape (MR-JC-TEST
    * mapreduce/lib/join/TestJoinDatamerge.java:59 writes IntWritable ids) —
    * decoded through the parameterized K/V classes into properly typed
    * columns (int key, string value), not stringly-typed ones. */
  private val qSeqfileTyped = QuerySpec(
    "q_seqfile_typed",
    (s, dir) => {
      import org.apache.hadoop.io.{IntWritable, SequenceFile, Text}
      val out = Graft.scratch(dir, "seqtyped")
      val conf = s.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(conf).delete(p, true)
      val rows = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id").cast("int").as("k"), col("lang")).collect()
      val w = SequenceFile.createWriter(conf,
        SequenceFile.Writer.file(p),
        SequenceFile.Writer.keyClass(classOf[IntWritable]),
        SequenceFile.Writer.valueClass(classOf[Text]))
      rows.foreach(r => w.append(new IntWritable(r.getInt(0)), new Text(r.getString(1))))
      w.close()
      graft.sources.LegacyContainers.readSequence(s, out,
        classOf[IntWritable], classOf[Text])
        .groupBy(col("value").as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("key")).cast("long").as("min_id"))
        .orderBy("lang")
    },
    Some("""SELECT lang, COUNT(*) AS n_docs, MIN(doc_id) AS min_id
      FROM documents WHERE doc_id < 200 GROUP BY 1 ORDER BY 1"""))

  /** Avro object-container round-trip ([[graft.sources.Avro]]): the third
    * row-oriented container after SequenceFile and TFile, and the one real
    * hadoop pipelines most often landed tabular data in. Distributed write
    * through AvroKeyOutputFormat (deflate), splittable read through
    * AvroKeyInputFormat with columns typed from the files' writer schema —
    * built on the public Avro APIs shipped with Spark's jars (the sandbox
    * has no spark-avro datasource). */
  private val qAvroRoundtrip = QuerySpec(
    "q_avro_roundtrip",
    (s, dir) => {
      val out = Graft.scratch(dir, "avro")
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.sources.Avro.writeAvro(
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        out)
      graft.sources.Avro.readAvro(s, s"$out/part-*.avro")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    },
    Some("""SELECT lang, COUNT(*) AS n_docs, MIN(doc_id) AS min_id,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY 1 ORDER BY 1"""))

  /** Avro logical types end-to-end ([[graft.sources.Avro]]): the events
    * table's timestamps survive an avro round-trip as timestamp-micros
    * longs and come back as genuine TimestampType — gated on microsecond-
    * exact min/max against epoch_us in DuckDB. */
  private val qAvroEvents = QuerySpec(
    "q_avro_events",
    (s, dir) => {
      val out = Graft.scratch(dir, "avroev")
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.sources.Avro.writeAvro(
        t(s, dir, "events")
          .select(col("event_id"), col("ts"), col("event_type"), col("value")),
        out)
      graft.sources.Avro.readAvro(s, s"$out/part-*.avro")
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          unix_micros(min(col("ts"))).as("min_ts_us"),
          unix_micros(max(col("ts"))).as("max_ts_us"),
          sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, COUNT(*) AS cnt,
      epoch_us(MIN(ts)) AS min_ts_us, epoch_us(MAX(ts)) AS max_ts_us,
      CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** ORC round-trip — the second columnar container (SURVEY §2.2/§2.3 output
    * codecs row): write zlib ORC, read back, aggregate. Exercises Spark's
    * built-in ORC reader/writer stack the way the parquet gates do. */
  private val qOrcRoundtrip = QuerySpec(
    "q_orc_roundtrip",
    (s, dir) => {
      val out = Graft.scratch(dir, "orc")
      t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
        .write.mode("overwrite").option("compression", "zlib").orc(out)
      s.read.orc(out)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("cnt"), sumExact(col("s_acctbal")).as("sum_bal"))
        .orderBy("s_nationkey")
    },
    Some("""SELECT s_nationkey, COUNT(*) AS cnt,
      CAST(SUM(CAST(s_acctbal AS DECIMAL(20,6))) AS DOUBLE) AS sum_bal
      FROM supplier GROUP BY 1 ORDER BY 1"""))

  /** Context-window chunking ([[MapOps.chunkDocuments]]): documents split
    * into 64-token windows overlapping by 16 — the fit-to-context-length
    * preprocessing step. Oracle replays the start-sequence + slice in
    * DuckDB list ops (parallel unnests zip). */
  private val qChunk = QuerySpec(
    "q_chunk",
    (s, dir) =>
      MapOps.chunkDocuments(t(s, dir, "documents"), col("doc_id"), col("text"),
          size = 64, overlap = 16)
        .orderBy("doc_id", "chunk_id"),
    Some("""WITH toks AS (SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents),
      ok AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
      st AS (SELECT doc_id, t,
          generate_series(1, greatest(1, len(t) - 16), 48) AS starts
        FROM ok)
      SELECT doc_id,
        CAST(unnest(generate_series(1, len(starts))) AS BIGINT) AS chunk_id,
        unnest(list_transform(starts, s -> array_to_string(t[s:s+63], ' ')))
          AS chunk,
        CAST(unnest(list_transform(starts, s -> len(t[s:s+63]))) AS BIGINT)
          AS n_tokens
      FROM st ORDER BY doc_id, chunk_id"""))

  /** Content-defined chunking ([[DedupOps.contentDefinedChunks]]):
    * rolling-hash cut points (window 3, expected length 8 tokens) —
    * the shift-robust alternative to fixed-offset chunking. The oracle
    * replays boundary selection and span assembly list-wise, so every
    * cut point is hash-pinned. */
  private val qContentChunks = QuerySpec(
    "q_content_chunks",
    (s, dir) =>
      DedupOps.contentDefinedChunks(
          core.Graft.rebalanceForCompute(t(s, dir, "documents")),
          col("doc_id"), col("text"), window = 3, modulus = 8)
        .orderBy("doc_id", "chunk_id"),
    Some("""WITH toks AS (SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents),
      ok AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
      bn AS (SELECT doc_id, t,
          list_filter(generate_series(1, n), i ->
            (CAST('0x' || substr(md5(array_to_string(
                t[greatest(1, i - 2):i], ' ')), 1, 8) AS BIGINT) % 8 = 0)
            OR i = n) AS b
        FROM ok)
      SELECT doc_id,
        CAST(unnest(generate_series(1, len(b))) AS BIGINT) AS chunk_id,
        unnest(list_transform(generate_series(1, len(b)), j ->
          array_to_string(t[(CASE WHEN j = 1 THEN 1 ELSE b[j-1] + 1 END):b[j]],
            ' '))) AS chunk,
        CAST(unnest(list_transform(generate_series(1, len(b)), j ->
          b[j] - (CASE WHEN j = 1 THEN 0 ELSE b[j-1] END))) AS BIGINT)
          AS n_tokens
      FROM bn ORDER BY doc_id, chunk_id"""))

  /** Chunk-level cross-document dedup — [[DedupOps.contentDefinedChunks]]
    * followed by one groupBy on the chunk text: sub-document content
    * shared between documents (boilerplate, copied passages) that
    * whole-doc hashing misses and fixed offsets would mis-align. The
    * 100 TB form groups on the chunk digest instead of the text;
    * the gate groups on the text so the oracle pins exact content. */
  private val qChunkDedup = QuerySpec(
    "q_chunk_dedup",
    (s, dir) =>
      DedupOps.contentDefinedChunks(
          core.Graft.rebalanceForCompute(t(s, dir, "documents")),
          col("doc_id"), col("text"), window = 3, modulus = 8)
        .groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"), min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy("chunk"),
    Some("""WITH toks AS (SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents),
      ok AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
      bn AS (SELECT doc_id, t,
          list_filter(generate_series(1, n), i ->
            (CAST('0x' || substr(md5(array_to_string(
                t[greatest(1, i - 2):i], ' ')), 1, 8) AS BIGINT) % 8 = 0)
            OR i = n) AS b
        FROM ok),
      ch AS (SELECT doc_id,
          unnest(list_transform(generate_series(1, len(b)), j ->
            array_to_string(
              t[(CASE WHEN j = 1 THEN 1 ELSE b[j-1] + 1 END):b[j]], ' ')))
            AS chunk
        FROM bn)
      SELECT chunk, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS BIGINT) AS n_occ,
        MIN(doc_id) AS first_doc
      FROM ch GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
      ORDER BY chunk"""))

  /** Deterministic stratified sampling ([[SortOps.stratifiedHashSample]]):
    * per-language keep fractions via portable md5 buckets — downsample the
    * dominant stratum, keep the rare ones. The oracle replays the identical
    * hash arithmetic, so the exact kept set (not just its size) matches. */
  private val qStratifiedSample = QuerySpec(
    "q_stratified_sample",
    (s, dir) =>
      SortOps.stratifiedHashSample(t(s, dir, "documents"), col("doc_id"),
          col("lang"), Map("en" -> 0.25, "de" -> 1.0, "es" -> 0.5,
            "fr" -> 0.75, "zh" -> 0.1))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_id"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy("lang"),
    Some("""SELECT lang, COUNT(*) AS n_kept, MIN(doc_id) AS min_id,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM (SELECT doc_id, lang, n_chars,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          % 10000 AS b
        FROM documents) t
      WHERE b < CASE lang WHEN 'en' THEN 2500 WHEN 'de' THEN 10000
        WHEN 'es' THEN 5000 WHEN 'fr' THEN 7500 WHEN 'zh' THEN 1000
        ELSE -1 END
      GROUP BY 1 ORDER BY 1"""))

  /** Vocabulary construction ([[MapOps.buildVocab]]): floor-filtered token
    * counts with contiguous ids by (count desc, token asc). */
  private val qVocab = QuerySpec(
    "q_vocab",
    (s, dir) =>
      MapOps.buildVocab(t(s, dir, "documents"), col("text"), minCount = 50)
        .orderBy("token_id"),
    Some("""SELECT token, cnt,
        CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT)
          AS token_id
      FROM (SELECT word AS token, COUNT(*) AS cnt
        FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'),
          x -> x <> '')) AS word FROM documents) w
        GROUP BY 1 HAVING COUNT(*) >= 50) c
      ORDER BY token_id"""))

  /** Balanced class weights ([[AggOps.classWeights]]) over the embeddings
    * labels: w = N / (K·n_c), unrounded (integer-operand division is
    * IEEE-identical across engines). */
  private val qClassWeights = QuerySpec(
    "q_class_weights",
    (s, dir) =>
      AggOps.classWeights(t(s, dir, "embeddings"), col("label"))
        .orderBy("label"),
    Some("""WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY 1)
      SELECT label, n,
        CAST(SUM(n) OVER () AS DOUBLE) / (COUNT(*) OVER () * n) AS weight
      FROM c ORDER BY label"""))

  // ----------------------------------------------------- LLM pipeline: dedup

  private val qDedupExact = QuerySpec(
    "q_dedup_exact",
    (s, dir) =>
      DedupOps.exactDedup(t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("content_hash"),
    Some("""SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
      COUNT(*) AS n_copies FROM documents GROUP BY 1 ORDER BY content_hash"""))

  private val qDedupMinhash = QuerySpec(
    "q_dedup_minhash",
    (s, dir) =>
      DedupOps.minhashLsh(t(s, dir, "documents"), col("doc_id"), col("text"),
          shingleSize = 5, bands = 4, rowsPerBand = 2, minJaccard = 0.2)
        .orderBy("a", "b"),
    Some("""WITH docs AS (
        SELECT doc_id, list_distinct(list_transform(
            generate_series(1, len(toks) - 4),
            i -> array_to_string(toks[i:i+4], ' '))) AS shingles
        FROM (SELECT doc_id,
                list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
              FROM documents) t
        WHERE len(toks) >= 5),
      sigs AS (
        SELECT doc_id, shingles,
          list_min(list_transform(shingles, s -> substr(md5(s), 1, 16))) AS mh0,
          list_min(list_transform(shingles, s -> substr(md5(s), 3, 16))) AS mh1,
          list_min(list_transform(shingles, s -> substr(md5(s), 5, 16))) AS mh2,
          list_min(list_transform(shingles, s -> substr(md5(s), 7, 16))) AS mh3,
          list_min(list_transform(shingles, s -> substr(md5(s), 9, 16))) AS mh4,
          list_min(list_transform(shingles, s -> substr(md5(s), 11, 16))) AS mh5,
          list_min(list_transform(shingles, s -> substr(md5(s), 13, 16))) AS mh6,
          list_min(list_transform(shingles, s -> substr(md5(s), 15, 16))) AS mh7
        FROM docs),
      banded AS (
        SELECT doc_id, shingles, b,
          CASE b WHEN 0 THEN mh0 || '|' || mh1 WHEN 1 THEN mh2 || '|' || mh3
                 WHEN 2 THEN mh4 || '|' || mh5 ELSE mh6 || '|' || mh7 END AS key
        FROM sigs, range(4) r(b)),
      pairs AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM banded x JOIN banded y ON x.b = y.b AND x.key = y.key
          AND x.doc_id < y.doc_id)
      SELECT a, b, jaccard FROM (
        SELECT p.a, p.b,
          ROUND(CAST(len(list_intersect(da.shingles, db.shingles)) AS DOUBLE) /
                len(list_distinct(list_concat(da.shingles, db.shingles))), 6) AS jaccard
        FROM pairs p JOIN docs da ON p.a = da.doc_id
                     JOIN docs db ON p.b = db.doc_id) v
      WHERE jaccard >= 0.2 ORDER BY a, b"""))

  /** Ingestion-time near-dup ([[DedupOps.incrementalMinhashLsh]]): the
    * batch (doc_id % 10 == 0) checks against the stored signature table
    * of the rest of the corpus — only the batch is shingled. The oracle
    * replays the FULL-corpus LSH and restricts to pairs touching a batch
    * doc, which is exactly the operator's output contract, so every
    * incremental run is cross-checked against the from-scratch answer. */
  private val qDedupIncrementalLsh = QuerySpec(
    "q_dedup_incremental_lsh",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val seen = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      val seenSigs = DedupOps.minhashSignatures(seen, col("doc_id"),
        col("text"), shingleSize = 5, bands = 4, rowsPerBand = 2)
      DedupOps.incrementalMinhashLsh(batch, col("doc_id"), col("text"),
          seenSigs, shingleSize = 5, bands = 4, rowsPerBand = 2,
          minJaccard = 0.2)
        .orderBy("a", "b")
    },
    Some("""WITH docs AS (
        SELECT doc_id, list_distinct(list_transform(
            generate_series(1, len(toks) - 4),
            i -> array_to_string(toks[i:i+4], ' '))) AS shingles
        FROM (SELECT doc_id,
                list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
              FROM documents) t
        WHERE len(toks) >= 5),
      sigs AS (
        SELECT doc_id, shingles,
          list_min(list_transform(shingles, s -> substr(md5(s), 1, 16))) AS mh0,
          list_min(list_transform(shingles, s -> substr(md5(s), 3, 16))) AS mh1,
          list_min(list_transform(shingles, s -> substr(md5(s), 5, 16))) AS mh2,
          list_min(list_transform(shingles, s -> substr(md5(s), 7, 16))) AS mh3,
          list_min(list_transform(shingles, s -> substr(md5(s), 9, 16))) AS mh4,
          list_min(list_transform(shingles, s -> substr(md5(s), 11, 16))) AS mh5,
          list_min(list_transform(shingles, s -> substr(md5(s), 13, 16))) AS mh6,
          list_min(list_transform(shingles, s -> substr(md5(s), 15, 16))) AS mh7
        FROM docs),
      banded AS (
        SELECT doc_id, shingles, b,
          CASE b WHEN 0 THEN mh0 || '|' || mh1 WHEN 1 THEN mh2 || '|' || mh3
                 WHEN 2 THEN mh4 || '|' || mh5 ELSE mh6 || '|' || mh7 END AS key
        FROM sigs, range(4) r(b)),
      pairs AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM banded x JOIN banded y ON x.b = y.b AND x.key = y.key
          AND x.doc_id < y.doc_id)
      SELECT a, b, jaccard FROM (
        SELECT p.a, p.b,
          ROUND(CAST(len(list_intersect(da.shingles, db.shingles)) AS DOUBLE) /
                len(list_distinct(list_concat(da.shingles, db.shingles))), 6) AS jaccard
        FROM pairs p JOIN docs da ON p.a = da.doc_id
                     JOIN docs db ON p.b = db.doc_id) v
      WHERE jaccard >= 0.2 AND (a % 10 = 0 OR b % 10 = 0)
      ORDER BY a, b"""))

  private val qSimhash = QuerySpec(
    "q_simhash",
    (s, dir) =>
      DedupOps.simhash64Typed(t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("doc_id"),
    Some("""WITH words AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
          x -> x <> '')) AS w
        FROM documents),
      contrib AS (
        SELECT doc_id, p,
          SUM(CASE WHEN CAST(floor(
              (strpos('0123456789abcdef',
                      substr(md5(w), CAST(floor(p/4) AS INT) + 1, 1)) - 1)
              / pow(2, 3 - (p % 4))) AS BIGINT) % 2 = 1
            THEN 1 ELSE -1 END) AS sgn
        FROM words, range(64) r(p) GROUP BY doc_id, p)
      SELECT doc_id,
        string_agg(CASE WHEN sgn > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS simhash
      FROM contrib GROUP BY doc_id ORDER BY doc_id"""))

  private val qNgramJaccard = QuerySpec(
    "q_ngram_jaccard",
    (s, dir) =>
      DedupOps.ngramJaccardPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
          shingleSize = 5, maxBucket = 50, minJaccard = 0.2)
        .orderBy("a", "b"),
    Some("""WITH docs AS (
        SELECT doc_id, list_distinct(list_transform(
            generate_series(1, len(toks) - 4),
            i -> array_to_string(toks[i:i+4], ' '))) AS shingles
        FROM (SELECT doc_id,
                list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
              FROM documents) t
        WHERE len(toks) >= 5),
      posting AS (SELECT doc_id, unnest(shingles) AS sh FROM docs),
      rare AS (SELECT sh FROM posting GROUP BY sh HAVING COUNT(*) <= 50),
      pruned AS (SELECT p.doc_id, p.sh FROM posting p JOIN rare r ON p.sh = r.sh),
      pairs AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM pruned x JOIN pruned y ON x.sh = y.sh AND x.doc_id < y.doc_id)
      SELECT a, b, jaccard FROM (
        SELECT p.a, p.b,
          ROUND(CAST(len(list_intersect(da.shingles, db.shingles)) AS DOUBLE) /
                len(list_distinct(list_concat(da.shingles, db.shingles))), 6) AS jaccard
        FROM pairs p JOIN docs da ON p.a = da.doc_id
                     JOIN docs db ON p.b = db.doc_id) v
      WHERE jaccard >= 0.2 ORDER BY a, b"""))

  private val qFingerprint = QuerySpec(
    "q_fingerprint",
    (s, dir) =>
      core.Graft.rebalanceForCompute(t(s, dir, "documents"))
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
      list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(list_filter(string_split(text, ''), c -> c <> ''),
            c -> CAST(ascii(c) AS BIGINT))),
        (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
      FROM documents ORDER BY doc_id"""))

  private val qTextQuality = QuerySpec(
    "q_text_quality",
    (s, dir) =>
      core.Graft.rebalanceForCompute(t(s, dir, "documents"))
        .select(
          col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
          round(TextFunctions.stopwordRatio(col("text")), 6).as("stop_ratio"),
          round(TextFunctions.punctRatio(col("text")), 6).as("punct_ratio"),
          round(TextFunctions.avgTokenLength(col("text")), 6).as("avg_token_len"),
          round(TextFunctions.qualityScore(col("text")), 6).as("quality"),
          TextFunctions.langIdHeuristic(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
      len(toks) AS n_tokens,
      ROUND(CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks,
        x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
        / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS stop_ratio,
      ROUND(CASE WHEN len(nospace) > 0 THEN CAST(len(regexp_replace(nospace,
        '[a-zA-Z0-9]', '', 'g')) AS DOUBLE) / CAST(len(nospace) AS DOUBLE)
        ELSE 0.0 END, 6) AS punct_ratio,
      ROUND(CASE WHEN len(toks) > 0 THEN
        CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
        / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS avg_token_len,
      ROUND(greatest(least(
        least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.5 +
        least((CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks,
          x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
          / CAST(len(toks) AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0) * 0.5 -
        (CASE WHEN len(nospace) > 0 THEN CAST(len(regexp_replace(nospace,
          '[a-zA-Z0-9]', '', 'g')) AS DOUBLE) / CAST(len(nospace) AS DOUBLE)
          ELSE 0.0 END), 1.0), 0.0), 6) AS quality,
      CASE WHEN (CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks,
        x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
        / CAST(len(toks) AS DOUBLE) ELSE 0.0 END) > 0.02
        THEN 'en' ELSE 'unk' END AS lang_pred
      FROM (SELECT doc_id,
              list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
              regexp_replace(text, '\s+', '', 'g') AS nospace
            FROM documents) t
      ORDER BY doc_id"""))

  // ------------------------------------------------ LLM pipeline: similarity

  private val qAnnCosine = QuerySpec(
    "q_ann_cosine",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.cosineTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("nbr_id"), col("sim"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
        FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS nbr_id, CAST(embedding AS DOUBLE[]) AS cvec
        FROM embeddings),
      scored AS (
        SELECT query_id, nbr_id,
          ROUND(list_dot_product(qvec, cvec) /
            (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(cvec, cvec))),
            6) AS sim
        FROM q, c WHERE nbr_id <> query_id)
      SELECT query_id, nbr_id, sim, "rank" FROM (
        SELECT query_id, nbr_id, sim, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS "rank"
        FROM scored) t
      WHERE "rank" <= 5 ORDER BY query_id, "rank""""))

  // --------------------------------------------- multimodal binary plumbing

  private val qMultimodalMeta = QuerySpec(
    "q_multimodal_meta",
    (s, dir) =>
      MultimodalOps.binaryMeta(
        MultimodalOps.withBinaryPayload(t(s, dir, "documents"), "text"), "payload")
        .select(col("doc_id"), col("n_bytes"), col("content_hash"),
          (col("n_chars") === length(col("text")).cast("long")).as("len_matches"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      md5(text) AS content_hash, n_chars = len(text) AS len_matches
      FROM documents ORDER BY doc_id"""))

  // ------------------------------------ aggregate framework / join language

  private val qValueAgg = QuerySpec(
    "q_value_agg",
    (s, dir) => {
      import AggregatorFramework._
      run(t(s, dir, "events"), Seq(
        Descriptor(LongValueSum, col("event_type"), lit(1)),
        Descriptor(DoubleValueSum, col("event_type"), col("value")),
        Descriptor(LongValueMax, col("event_type"), col("user_id")),
        Descriptor(LongValueMin, col("event_type"), col("user_id")),
        Descriptor(StringValueMax, lit("etype"), col("event_type")),
        Descriptor(UniqValueCount, col("event_type"), col("user_id"))),
        uniqCap = 100)
        .orderBy("key")
    },
    Some("""SELECT key, value FROM (
        SELECT 'LongValueSum:' || event_type AS key,
          CAST(COUNT(*) AS VARCHAR) AS value FROM events GROUP BY event_type
        UNION ALL
        SELECT 'DoubleValueSum:' || event_type,
          CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(20,6)))
            AS DECIMAL(20,6)) AS VARCHAR) FROM events GROUP BY event_type
        UNION ALL
        SELECT 'LongValueMax:' || event_type,
          CAST(MAX(user_id) AS VARCHAR) FROM events GROUP BY event_type
        UNION ALL
        SELECT 'LongValueMin:' || event_type,
          CAST(MIN(user_id) AS VARCHAR) FROM events GROUP BY event_type
        UNION ALL
        SELECT 'StringValueMax:etype', MAX(event_type) FROM events
        UNION ALL
        SELECT 'UniqValueCount:' || event_type,
          CAST(LEAST(COUNT(DISTINCT CAST(user_id AS VARCHAR)), 100) AS VARCHAR)
        FROM events GROUP BY event_type) t
      ORDER BY key"""))

  private val qJoinExpr = QuerySpec(
    "q_join_expr",
    (s, dir) => {
      val tables: String => DataFrame = {
        case "nat" => t(s, dir, "nation")
          .select(col("n_nationkey").as("key"), col("n_name"))
        case "cust" => t(s, dir, "customer")
          .groupBy(col("c_nationkey").as("key")).agg(count(lit(1)).as("n_cust"))
        case "supp" => t(s, dir, "supplier")
          .groupBy(col("s_nationkey").as("key")).agg(count(lit(1)).as("n_supp"))
      }
      JoinExpr.compile("""inner(tbl("nat"),outer(tbl("cust"),tbl("supp")))""", tables)
        .select(col("key"), col("n_name_0").as("n_name"),
          coalesce(col("n_cust_0_1"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp_1_1"), lit(0L)).as("n_supp"))
        .orderBy("key")
    },
    Some("""SELECT n_nationkey AS key, n_name,
        COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
      FROM nation
      JOIN (SELECT COALESCE(c.k, s.k) AS k, n_cust, n_supp
            FROM (SELECT c_nationkey AS k, COUNT(*) AS n_cust
                  FROM customer GROUP BY 1) c
            FULL OUTER JOIN (SELECT s_nationkey AS k, COUNT(*) AS n_supp
                  FROM supplier GROUP BY 1) s ON c.k = s.k) j
      ON n_nationkey = j.k ORDER BY key"""))

  private val qCube = QuerySpec(
    "q_cube",
    (s, dir) =>
      t(s, dir, "events")
        .withColumn("day", date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
        .cube(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("event_type"), lit("ALL")).as("et"),
          coalesce(col("day"), lit("ALL")).as("day"), col("cnt"))
        .orderBy("et", "day"),
    Some("""SELECT COALESCE(event_type, 'ALL') AS et, COALESCE(day, 'ALL') AS day,
        COUNT(*) AS cnt
      FROM (SELECT event_type,
              strftime(date_trunc('day', ts), '%Y-%m-%d') AS day FROM events) t
      GROUP BY CUBE(event_type, day) ORDER BY et, day"""))

  // ------------------------ sorted-group iteration / salting / multimodal

  // grouping-comparator parity through the REAL sorted-group iterator (not
  // the window formulation): per order, concatenate line numbers in
  // secondary-sort order inside GroupOps.sortedGroups.
  private val qSortedGroups = QuerySpec(
    "q_sorted_groups",
    (s, dir) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("line_seq", StringType),
        StructField("n_lines", LongType)))
      GroupOps.sortedGroups(
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"),
        Seq(col("l_orderkey")),
        Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey"), col("l_quantity")))(
        (head, group) => Iterator(org.apache.spark.sql.Row(
          head.getLong(0),
          group.map(_.getInt(1)).mkString(","),
          group.size.toLong)),
        schema).orderBy("l_orderkey")
    },
    Some("""SELECT l_orderkey,
        string_agg(CAST(l_linenumber AS VARCHAR), ','
          ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS line_seq,
        COUNT(*) AS n_lines
      FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey"""))

  private val qSaltedAgg = QuerySpec(
    "q_salted_agg",
    (s, dir) =>
      SkewOps.saltedStats(t(s, dir, "events"), col("event_type"), col("value"),
          saltBuckets = 16)
        .orderBy("key"),
    Some("""SELECT event_type AS key,
        CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value,
        COUNT(*) AS cnt, MIN(value) AS min_value, MAX(value) AS max_value
      FROM events GROUP BY event_type ORDER BY key"""))

  // FixedLengthInputFormat through the gate: a deterministic md5-derived
  // binary file is (re)written driver-side, scanned as 40-byte records, and
  // summarized; the oracle regenerates the same records arithmetically.
  private val qFixedWidth = QuerySpec(
    "q_fixed_width",
    (s, dir) => {
      val n = 500
      val f = new java.io.File(Graft.scratch(dir, "fixed_width.bin"))
      if (!f.exists() || f.length() != n * 40L) {
        val md = java.security.MessageDigest.getInstance("MD5")
        def hex(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02x").mkString
        val bytes = new StringBuilder(n * 40)
        (0 until n).foreach { i =>
          bytes.append(hex(md.digest(s"$i:fw".getBytes("UTF-8"))).substring(0, 8))
          bytes.append(hex(md.digest(s"$i:fv".getBytes("UTF-8"))))
        }
        java.nio.file.Files.write(f.toPath, bytes.toString.getBytes("UTF-8"))
      }
      graft.sources.FixedWidth.readKv(s, f.getAbsolutePath, width = 40, keyWidth = 8)
        .agg(
          count(lit(1)).as("n_records"),
          countDistinct(col("key")).as("distinct_keys"),
          sum(conv(col("key"), 16, 10).cast("long")).as("key_sum"),
          min(col("value")).as("min_value"))
    },
    Some("""WITH recs AS (
        SELECT substr(md5(CAST(i AS VARCHAR) || ':fw'), 1, 8) AS key,
               md5(CAST(i AS VARCHAR) || ':fv') AS value
        FROM generate_series(0, 499) t(i))
      SELECT COUNT(*) AS n_records, COUNT(DISTINCT key) AS distinct_keys,
        CAST(SUM(CAST('0x' || key AS BIGINT)) AS BIGINT) AS key_sum,
        MIN(value) AS min_value
      FROM recs"""))

  // the streaming operator run in batch mode (withWatermark is a no-op on
  // batch input — same code path the stream uses)
  private val qEventWindow = QuerySpec(
    "q_event_window",
    (s, dir) =>
      graft.streaming.StreamOps.windowedAgg(
        t(s, dir, "events"), "ts", "event_type", "value", "1 hour", "2 hours")
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:00:00").as("hour"),
          col("event_type"), col("cnt"),
          round(col("sum_value").cast("decimal(20,6)"), 6).cast("double").as("sum_value"))
        .orderBy("hour", "event_type"),
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
        event_type, COUNT(*) AS cnt,
        CAST(CAST(SUM(value) AS DECIMAL(20,6)) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""))

  // multimodal decode-kernel plumbing through the gate: the mapPartitions
  // featurizer runs distributed; byte counts are oracle-checkable
  private val qMultimodalFeatures = QuerySpec(
    "q_multimodal_features",
    (s, dir) =>
      MultimodalOps.extractFeatures(
        MultimodalOps.withBinaryPayload(t(s, dir, "documents"), "text"),
        "doc_id", "payload")
        .toDF()
        .select(col("id").as("doc_id"), col("n_bytes"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents ORDER BY doc_id"""))

  /** LSH-bucketed ANN, fully hash-gated: the hyperplane coefficients are
    * portable md5 arithmetic (see [[SimilarityOps.hyperplaneSignature]]),
    * so the oracle re-derives the exact signatures, buckets, and rankings
    * in SQL — no rows-only concession. */
  private val qAnnLsh = QuerySpec(
    "q_ann_lsh",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.lshCosineTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
          dims = 64, planes = 4)
        .select(col("query_id"), col("nbr_id"), col("sim"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      coef AS (
        SELECT p, list_transform(generate_series(0, 63),
          d -> (CAST('0x' || substr(md5('42|' || p || '|' || d), 1, 8)
                AS BIGINT) % 2000001) / 1000000.0 - 1.0) AS c
        FROM range(4) r(p)),
      sigonly AS (
        SELECT vec_id,
          string_agg(CASE WHEN pd >= 0 THEN '1' ELSE '0' END, ''
            ORDER BY p) AS sig
        FROM (SELECT e.vec_id, coef.p, list_dot_product(e.v, coef.c) AS pd
              FROM e, coef) t
        GROUP BY vec_id),
      sigs AS (SELECT e.vec_id, e.v, s.sig FROM e JOIN sigonly s USING (vec_id)),
      scored AS (
        SELECT q.vec_id AS query_id, x.vec_id AS nbr_id,
          ROUND(list_dot_product(q.v, x.v) /
            (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(x.v, x.v))),
            6) AS sim
        FROM sigs q JOIN sigs x ON q.sig = x.sig AND x.vec_id <> q.vec_id
        WHERE q.vec_id < 10)
      SELECT query_id, nbr_id, sim, CAST(rn AS BIGINT) AS "rank" FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY sim DESC, nbr_id) AS rn FROM scored) t
      WHERE rn <= 5 ORDER BY query_id, "rank""""))

  private val qTextgenWc = QuerySpec(
    "q_textgen_wc",
    (s, _) =>
      MapOps.wordCount(graft.sources.TextGen.corpus(s, 2000, 50), "text")
        .orderBy("word"),
    Some(s"""WITH words AS (
        SELECT ${graft.sources.TextGen.vocabSqlList}[
          CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
            CAST(j AS VARCHAR)), 1, 6) AS BIGINT) % 20 AS INT) + 1] AS word
        FROM generate_series(0, 1999) t(i), generate_series(0, 49) u(j))
      SELECT word, COUNT(*) AS cnt FROM words GROUP BY word ORDER BY word"""))

  // ------------------------------ as-of join / tokens / embedding near-dup

  private val qAsofJoin = QuerySpec(
    "q_asof_join",
    (s, dir) => {
      // dedupe right side on (key, time) first so the as-of pick is unique —
      // both engines then agree without relying on tie order
      val w = Window.partitionBy(col("key"), col("o_orderdate"))
        .orderBy(col("o_orderkey").desc)
      val ordersDedup = t(s, dir, "orders")
        .select(col("o_custkey").as("key"), col("o_orderdate"),
          col("o_orderkey"), col("o_totalprice"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .drop("_rn")
      JoinOps.asOfJoin(
        t(s, dir, "events").select(col("event_id"), col("user_id").as("key"), col("ts")),
        ordersDedup,
        key = "key", leftTime = "ts", rightTime = "o_orderdate")
        .select(col("event_id"), col("key").as("user_id"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy("event_id")
    },
    Some("""WITH o AS (
        SELECT key, o_orderdate, o_orderkey, o_totalprice FROM (
          SELECT o_custkey AS key, o_orderdate, o_orderkey, o_totalprice,
            ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
              ORDER BY o_orderkey DESC) AS rn
          FROM orders) x WHERE rn = 1)
      SELECT event_id, user_id, o.o_orderkey, o.o_totalprice
      FROM events ASOF LEFT JOIN o
        ON events.user_id = o.key AND events.ts >= o.o_orderdate
      ORDER BY event_id"""))

  private val qTokenCount = QuerySpec(
    "q_token_count",
    (s, dir) =>
      core.Graft.rebalanceForCompute(t(s, dir, "documents"))
        .select(
          col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_ws"),
          TextFunctions.bpeishTokenCount(col("text")).cast("long").as("n_bpe"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
        len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_ws,
        len(regexp_extract_all(text,
          '''(?:s|d|m|t|ll|ve|re)|[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]+')) AS n_bpe
      FROM documents ORDER BY doc_id"""))

  private val qDedupEmbedding = QuerySpec(
    "q_dedup_embedding",
    (s, dir) =>
      SimilarityOps.nearDupPairs(t(s, dir, "embeddings"), k = 20)
        .orderBy(col("sim").desc, col("a"), col("b")),
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings)
      SELECT x.vec_id AS a, y.vec_id AS b,
        ROUND(list_dot_product(x.v, y.v) /
          (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))),
          6) AS sim
      FROM e x JOIN e y ON x.vec_id < y.vec_id
      ORDER BY sim DESC, a, b LIMIT 20"""))

  private val qAnnIvf = QuerySpec(
    "q_ann_ivf",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
          nlist = 8, nprobe = 2)
        .orderBy("query_id", "rank")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      assigned AS (
        SELECT vec_id AS nbr_id, v AS nv, cid FROM (
          SELECT e.vec_id, e.v, c.cid,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ROUND(list_dot_product(e.v, c.cv) /
                (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))),
                6) DESC, c.cid) AS rn
          FROM e, cent c) x WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, v AS qv, cid FROM (
          SELECT e.vec_id, e.v, c.cid,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ROUND(list_dot_product(e.v, c.cv) /
                (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))),
                6) DESC, c.cid) AS rn
          FROM e, cent c WHERE e.vec_id < 10) x WHERE rn <= 2)
      SELECT query_id, nbr_id, sim, "rank" FROM (
        SELECT p.query_id, a.nbr_id,
          ROUND(list_dot_product(p.qv, a.nv) /
            (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.nv, a.nv))),
            6) AS sim,
          ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
            ROUND(list_dot_product(p.qv, a.nv) /
              (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.nv, a.nv))),
              6) DESC, a.nbr_id) AS "rank"
        FROM probes p JOIN assigned a ON p.cid = a.cid
        WHERE a.nbr_id <> p.query_id) t
      WHERE "rank" <= 5 ORDER BY query_id, "rank""""))

  /** Incremental IVF index maintenance ([[SimilarityOps.ivfTopKFromIndex]])
    * — the ANN twin of q_dedup_incremental_lsh, composed with the TxLog
    * store: the seen corpus's assignments and frozen centroids are STAGED
    * state; the timed body commits the staged index as version 1, assigns
    * ONLY the arriving batch against the frozen centroids (broadcast
    * argmin kernel — the batch never shuffles), appends it as version 2,
    * and searches the composed index. Because per-vector assignment
    * against frozen centroids is independent of every other vector, the
    * append-grown index IS the from-scratch index over the union — the
    * oracle recomputes the whole assignment + probe pipeline monolithically
    * in SQL (seen-frozen centroids: 8 lowest seen ids), so the equality
    * is checked, not assumed. At 100 TB: daily embedding batches cost
    * O(batch) assignment + one manifest commit; search stays
    * nprobe/nlist of the index. */
  private val qAnnIvfInc = QuerySpec(
    "q_ann_ivf_inc",
    (s, dir) => {
      import graft.sources.TxLog
      val fix = Graft.scratch(dir, "fix_ivf")
      val root = Graft.scratch(dir, "ivf_store")
      TxLog.destroy(root)
      val emb = t(s, dir, "embeddings")
      val cent = s.read.parquet(s"$fix/centroids")
      // v1: adopt the staged seen-corpus index as an external data path
      TxLog.commit(root, Seq(s"$fix/seen_index"))
      val batch = emb.filter(col("vec_id") % 10 === 0)
      val path = TxLog.writeBatch(
        SimilarityOps.assignToNearest(batch, cent).coalesce(1), root, "batch")
      TxLog.commit(root, Seq(path))
      require(TxLog.latestVersion(root) == 2,
        "index history must be: staged seen index, batch append")
      val index = TxLog.read(s, root)
      val queries = emb.filter(col("vec_id") < 10)
      SimilarityOps.ivfTopKFromIndex(index, cent, queries, k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      cent AS (SELECT vec_id AS cid, v AS cv FROM e
        WHERE vec_id % 10 <> 0 ORDER BY vec_id LIMIT 8),
      assigned AS (
        SELECT vec_id AS nbr_id, v AS nv, cid FROM (
          SELECT e.vec_id, e.v, c.cid,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ROUND(list_dot_product(e.v, c.cv) /
                (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))),
                6) DESC, c.cid) AS rn
          FROM e, cent c) x WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, v AS qv, cid FROM (
          SELECT e.vec_id, e.v, c.cid,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ROUND(list_dot_product(e.v, c.cv) /
                (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))),
                6) DESC, c.cid) AS rn
          FROM e, cent c WHERE e.vec_id < 10) x WHERE rn <= 2)
      SELECT query_id, nbr_id, sim, "rank" FROM (
        SELECT p.query_id, a.nbr_id,
          ROUND(list_dot_product(p.qv, a.nv) /
            (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.nv, a.nv))),
            6) AS sim,
          ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
            ROUND(list_dot_product(p.qv, a.nv) /
              (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.nv, a.nv))),
              6) DESC, a.nbr_id) AS "rank"
        FROM probes p JOIN assigned a ON p.cid = a.cid
        WHERE a.nbr_id <> p.query_id) t
      WHERE "rank" <= 5 ORDER BY query_id, "rank""""),
    stage = Some((s, dir) => {
      val fix = Graft.scratch(dir, "fix_ivf")
      val emb = t(s, dir, "embeddings")
      val seen = emb.filter(col("vec_id") % 10 =!= 0)
      val cent = seen.orderBy("vec_id").limit(8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      cent.coalesce(1).write.mode("overwrite").parquet(s"$fix/centroids")
      SimilarityOps.assignToNearest(seen, cent).coalesce(1)
        .write.mode("overwrite").parquet(s"$fix/seen_index")
    }))

  /** Recall@5 of the IVF search against the exact ranking
    * ([[SimilarityOps.recallAtK]]) — the QA loop every approximate index
    * ships with. The oracle recomputes BOTH sides (exact top-k and the full
    * IVF assignment/probe pipeline) and counts overlap, so the measured
    * recall itself is hash-gated, not just plausible. */
  private val qAnnRecall = QuerySpec(
    "q_ann_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val exact = SimilarityOps.cosineTopK(emb, queries, k = 5)
      val approx = SimilarityOps.ivfTopK(emb, queries, k = 5,
        nlist = 8, nprobe = 2)
      SimilarityOps.recallAtK(exact, approx, k = 5)
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      exact AS (
        SELECT query_id, nbr_id FROM (
          SELECT q.vec_id AS query_id, x.vec_id AS nbr_id,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              ROUND(list_dot_product(q.v, x.v) /
                (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(x.v, x.v))),
                6) DESC, x.vec_id) AS rn
          FROM e q JOIN e x ON x.vec_id <> q.vec_id
          WHERE q.vec_id < 10) t WHERE rn <= 5),
      cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      assigned AS (
        SELECT vec_id AS nbr_id, v AS nv, cid FROM (
          SELECT e.vec_id, e.v, c.cid,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ROUND(list_dot_product(e.v, c.cv) /
                (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))),
                6) DESC, c.cid) AS rn
          FROM e, cent c) x WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, v AS qv, cid FROM (
          SELECT e.vec_id, e.v, c.cid,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ROUND(list_dot_product(e.v, c.cv) /
                (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))),
                6) DESC, c.cid) AS rn
          FROM e, cent c WHERE e.vec_id < 10) x WHERE rn <= 2),
      approx AS (
        SELECT query_id, nbr_id FROM (
          SELECT p.query_id, a.nbr_id,
            ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
              ROUND(list_dot_product(p.qv, a.nv) /
                (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.nv, a.nv))),
                6) DESC, a.nbr_id) AS rn
          FROM probes p JOIN assigned a ON p.cid = a.cid
          WHERE a.nbr_id <> p.query_id) t
        WHERE rn <= 5)
      SELECT CAST(COUNT(DISTINCT x.query_id) AS BIGINT) AS n_queries,
        CAST(COUNT(a.nbr_id) AS BIGINT) AS n_hits,
        CAST(COUNT(*) AS BIGINT) AS n_exact,
        CAST(COUNT(a.nbr_id) AS DOUBLE) / COUNT(*) AS recall
      FROM exact x LEFT JOIN approx a
        ON x.query_id = a.query_id AND x.nbr_id = a.nbr_id"""))

  private val qWindowLag = QuerySpec(
    "q_window_lag",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"),
          round(avg(col("value")).over(w.rowsBetween(-2, 0)), 6).as("mov_avg3"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, "value",
        LAG("value", 1) OVER w AS prev_value,
        LEAD("value", 1) OVER w AS next_value,
        ROUND(AVG("value") OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY event_id"""))

  private val qSessionWindow = QuerySpec(
    "q_session_window",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"), sumExact(col("value")).as("sum_value"))
        .select(col("user_id"),
          date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start"),
    Some("""WITH g AS (
        SELECT user_id, ts, value,
          SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM (SELECT user_id, ts, value, event_id,
                CASE WHEN prev IS NULL OR epoch_us(ts) - prev > 1800000000
                     THEN 1 ELSE 0 END AS ns
              FROM (SELECT user_id, ts, value, event_id,
                      LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS prev
                    FROM events) a) b)
      SELECT user_id,
        strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      FROM g GROUP BY user_id, sid ORDER BY user_id, session_start"""))

  // ------------------------------------------------- terasort (generated)

  private val qTeraValidate = QuerySpec(
    "q_tera_validate",
    (s, _) =>
      graft.sources.Tera.validate(
        graft.sources.Tera.sort(graft.sources.Tera.gen(s, 200000, 32))),
    Some("""WITH recs AS (
        SELECT substr(md5(CAST(i AS VARCHAR) || ':k'), 1, 20) AS key,
               md5(CAST(i AS VARCHAR) || ':v') AS value
        FROM generate_series(0, 199999) t(i))
      SELECT COUNT(*) AS n_records, CAST(0 AS BIGINT) AS n_violations,
        CAST(SUM(CAST('0x' || substr(md5(key || value), 1, 14) AS BIGINT)
          % 1000000007) % 1000000007 AS BIGINT) AS checksum
      FROM recs"""))

  /** BIT-PARITY TeraGen ([[graft.sources.Tera.genSort]], VERDICT r15
    * item 4): the reference's 128-bit LCG + binary record format
    * reimplemented from the published algorithm, so generated data is
    * byte-identical to Hadoop TeraGen / gensort output — a migration
    * user can cross-validate against an existing Gray-sort dataset.
    * The gate generates 1000 records across 8 tasks (pinning the
    * skip-ahead at 7 non-zero task offsets through the sum), REQUIREs
    * the full gensort -c checksum (sum of per-record CRC32s) equals the
    * reference generator's own 0x1f9ffe645ec, and hash-pins the first
    * 20 rows' key bytes + CRC32 against reference-derived constants
    * (row 0's key spells "JimGrayRIP" — the LCG's c constant). */
  private val qTeraGensort = QuerySpec(
    "q_tera_gensort",
    (s, _) => {
      val df = graft.sources.Tera.genSort(s, 1000, 8)
      val total = df
        .agg(sum(col("crc32").cast("decimal(38,0)")).as("t"))
        .collect().head.getDecimal(0).toBigInteger
      require(total == new java.math.BigInteger("1f9ffe645ec", 16),
        s"gensort -c checksum mismatch vs the reference generator: $total")
      df.filter(col("row_id") < 20)
        .select(col("row_id"), lower(hex(col("key"))).as("key_hex"),
          col("crc32"))
        .orderBy("row_id")
    },
    Some("""SELECT * FROM (VALUES
        (CAST(0 AS BIGINT),'4a696d47726179524950',CAST(2538618403 AS BIGINT)),
        (1,'95e0e48262b3edfe0447',2783534542),
        (2,'45979353dbed5329365c',3270607765),
        (3,'882a02c315362b60765f',1362613206),
        (4,'5c90ab38ae52896215d7',3388001003),
        (5,'72dc0ca51e333f324b7a',3726105948),
        (6,'10431af6a0d847b8c55f',2139828976),
        (7,'5efc4abfaca23e8ca8ed',356461577),
        (8,'44f78c8b40bf1ce19a82',2067648582),
        (9,'84c0992f3b94fd25acb0',2841475179),
        (10,'b3e9689de16ba4f5afb6',2967250429),
        (11,'f8f64263fd0b05159f85',2867403047),
        (12,'da7a45a182deb6fea6ed',3747750003),
        (13,'9b6b4825e251bd9e6deb',3172571401),
        (14,'dc682a00647e19d9b29b',2878421272),
        (15,'f25bd15439d16af594c1',2410657969),
        (16,'f2fa42ed187287498d57',1789544397),
        (17,'6a59451be8d01de23326',3680876452),
        (18,'2729b97714710007f616',3754641643),
        (19,'879b2fb7bb3526d62ac8',4041529187)
      ) t(row_id, key_hex, crc32) ORDER BY row_id"""))

  // --------------------------------- round 2: io round-trips, chain, stream

  /** ChainMapper/ChainReducer parity as a gate query: a named multi-stage
    * pipeline (tokenize -> filter -> aggregate) composed with Chain.of —
    * Catalyst fuses the per-row stages into one codegen stage. */
  private val qChain = QuerySpec(
    "q_chain",
    (s, dir) => {
      val pipeline = graft.core.Chain.of(
        df => df.select(col("doc_id"), explode(split(col("text"), "\\s+")).as("w")),
        df => df.filter(length(col("w")) >= 6),
        df => df.groupBy("w")
          .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("n_docs")))
      pipeline(t(s, dir, "documents")).filter(col("cnt") >= 5).orderBy("w")
    },
    Some("""SELECT w, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS n_docs
      FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents) t
      WHERE LENGTH(w) >= 6 GROUP BY w HAVING COUNT(*) >= 5 ORDER BY w"""))

  /** TextOutputFormat/KeyValueTextInputFormat parity end-to-end: write
    * key<TAB>value lines, scan them back, aggregate. The gate checks the
    * whole sink->source loop preserves records byte-for-byte. */
  private val qKvtextRoundtrip = QuerySpec(
    "q_kvtext_roundtrip",
    (s, dir) => {
      val out = Graft.scratch(dir, "kvtext")
      Graft.sink(
        t(s, dir, "events")
          .select(col("event_id").cast("string").as("key"), col("event_type").as("value")),
        out, format = "kvtext")
      Graft.source(s, out, format = "kvtext")
        .groupBy("value")
        .agg(count(lit(1)).as("cnt"),
          min(col("key")).as("min_key"), max(col("key")).as("max_key"))
        .orderBy("value")
    },
    Some("""SELECT event_type AS value, COUNT(*) AS cnt,
      MIN(CAST(event_id AS VARCHAR)) AS min_key,
      MAX(CAST(event_id AS VARCHAR)) AS max_key
      FROM events GROUP BY 1 ORDER BY value"""))

  /** MultipleOutputs parity end-to-end: data-driven output paths via
    * partitionBy, then a partition-discovering scan back over the tree. */
  private val qPartitionedSink = QuerySpec(
    "q_partitioned_sink",
    (s, dir) => {
      val out = Graft.scratch(dir, "parts")
      Graft.sink(t(s, dir, "events").select("event_id", "event_type", "value"),
        out, partitionBy = Seq("event_type"))
      Graft.source(s, out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, COUNT(*) AS cnt,
      CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** Dynamic partition overwrite — the incremental-maintenance staple at
    * 100 TB: rewrite ONE partition in place (here: the click partition
    * with doubled values) while every other partition survives untouched.
    * Under the default STATIC mode the second write would wipe the whole
    * tree and the per-type counts would collapse — the oracle catches
    * exactly that. */
  private val qDynamicOverwrite = QuerySpec(
    "q_dynamic_overwrite",
    (s, dir) => {
      val out = Graft.scratch(dir, "dynover")
      val ev = t(s, dir, "events").select("event_id", "event_type", "value")
      ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
      // per-WRITE option (not a session conf): scopes dynamic mode to this
      // one commit, so nothing can leak into a concurrently planned query
      ev.filter(col("event_type") === "click")
        .withColumn("value", col("value") * 2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type").parquet(out)
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, COUNT(*) AS cnt,
      CAST(SUM(CAST(CASE WHEN event_type = 'click' THEN value * 2
        ELSE value END AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** HadoopArchives/DistCp-style compaction as a gate: rewrite a table into
    * ~1 MB files, then aggregate the compacted copy — content must be
    * unchanged by the move. */
  private val qCompactRoundtrip = QuerySpec(
    "q_compact_roundtrip",
    (s, dir) => {
      val out = Graft.scratch(dir, "compact")
      graft.sources.Compact.compact(s, s"$dir/orders.parquet", out,
        targetFileBytes = 1L * 1024 * 1024)
      Graft.source(s, out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sumExact(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS cnt,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY 1 ORDER BY 1"""))

  /** Structured Streaming executed for real (file stream source ->
    * watermarked tumbling-window agg -> memory sink, Trigger.AvailableNow),
    * gated against the same SQL oracle as the batch twin — proof the
    * incremental operator computes the identical result. */
  private val qStreamTumbling = QuerySpec(
    "q_stream_tumbling",
    (s, dir) => {
      val stream = eventsStream(s, dir)
        // decimal before the streaming sum: exact, order/batch-independent
        .withColumn("value_dec", col("value").cast("decimal(18,6)"))
      val agg = graft.streaming.StreamOps.windowedAgg(
        stream, "event_time", "event_type", "value_dec", "1 hour", "1 hour")
      runToMemory(s, agg, "graft_stream_tumbling", "complete")
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:00:00").as("hour"),
          col("event_type"), col("cnt"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("hour", "event_type")
    },
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
      event_type, COUNT(*) AS cnt,
      CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""))

  /** The q_stream_tumbling shape re-run with the ROCKSDB state store
    * ([[graft.streaming.StreamOps.withRocksDbState]]): per-(hour, user)
    * state is the large-keyed-state scenario where the default heap-backed
    * provider dies first at 100x volume. The gate asserts the provider
    * actually engaged (rocksdb metrics in the query progress) and
    * hash-matches the same relational oracle — proof the backend swap is
    * semantics-preserving. */
  private val qStreamRocksdb = QuerySpec(
    "q_stream_rocksdb",
    (s, dir) => {
      graft.streaming.StreamOps.withRocksDbState(s) {
        val stream = eventsStream(s, dir)
        val agg = stream
          .withWatermark("event_time", "1 hour")
          .groupBy(window(col("event_time"), "1 hour"), col("user_id"))
          .agg(count(lit(1)).as("cnt"))
        val q = runAvailableNow(s, agg.writeStream
          .format("memory").queryName("graft_stream_rocksdb")
          .outputMode("complete"))
        require(q.lastProgress != null && q.lastProgress.json.contains("rocksdb"),
          "RocksDB state store did not engage")
      }
      s.table("graft_stream_rocksdb")
        .agg(count(lit(1)).as("n_state_rows"),
          sum(col("cnt")).cast("long").as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    },
    Some("""WITH g AS (SELECT date_trunc('hour', ts) AS h, user_id,
        COUNT(*) AS cnt FROM events GROUP BY 1, 2)
      SELECT COUNT(*) AS n_state_rows, CAST(SUM(cnt) AS BIGINT) AS n_events,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM g"""))

  /** The URL of the dataset's one embedded Derby database, which the JDBC
    * gates share ([[Graft.scratch]] `derby`); Derby's error log goes to
    * the same scratch root. */
  private def derbyUrl(dir: String): String = {
    System.setProperty("derby.stream.error.file", Graft.scratch(dir, "derby.log"))
    s"jdbc:derby:${Graft.scratch(dir, "derby")};create=true"
  }

  /** DBOutputFormat/DataDrivenDBInputFormat parity against a real database:
    * batched JDBC insert into embedded Derby, then a partitioned bounded
    * read back (WHERE c_custkey BETWEEN lo AND hi per split — the
    * reference's exact split strategy) and an aggregate over it. */
  private val qJdbcRoundtrip = QuerySpec(
    "q_jdbc_roundtrip",
    (s, dir) => {
      val url = derbyUrl(dir)
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
      graft.sources.Jdbc.write(cust, url, "customer_rt", mode = "overwrite", props = props)
      graft.sources.Jdbc.read(s, url, "customer_rt",
          partitionColumn = "c_custkey", lowerBound = 0L, upperBound = 4000000L,
          numPartitions = 8, props = props)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("cnt"), sumExact(col("c_acctbal")).as("sum_bal"))
        .orderBy("c_nationkey")
    },
    Some("""SELECT c_nationkey, COUNT(*) AS cnt,
      CAST(SUM(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE) AS sum_bal
      FROM customer GROUP BY 1 ORDER BY 1"""))

  /** Date-bounded partitioned JDBC read ([[graft.sources.Jdbc.readDatePartitioned]],
    * DateSplitter parity): orders round-trip through embedded Derby with the
    * scan split on a DATE column — the per-type bounding-query machinery the
    * numeric gate doesn't touch. Oracle aggregates the same rows straight
    * from parquet. */
  private val qJdbcPartitioned = QuerySpec(
    "q_jdbc_partitioned",
    (s, dir) => {
      val url = derbyUrl(dir)
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      // fixture memo: loading Derby is the writer gate's job
      // (q_jdbc_roundtrip measures the write); THIS gate measures the
      // partitioned read, so the load happens once per dataset/process
      fixtureOnce(s"jdbc_partitioned|$dir") {
        val ord = t(s, dir, "orders")
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_odate"),
            col("o_totalprice"))
        graft.sources.Jdbc.write(ord, url, "orders_part", mode = "overwrite",
          props = props)
      }
      graft.sources.Jdbc.readDatePartitioned(s, url, "orders_part",
          partitionColumn = "o_odate",
          lowerDate = "1992-01-01", upperDate = "1999-01-01",
          numPartitions = 4, props = props)
        .groupBy(year(col("o_odate")).cast("long").as("o_year"))
        .agg(count(lit(1)).as("cnt"), sumExact(col("o_totalprice")).as("sum_price"))
        .orderBy("o_year")
    },
    Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      COUNT(*) AS cnt,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY 1 ORDER BY 1"""))

  /** The generator-shaped stateful streaming operator
    * (flatMapGroupsWithState) executed for real and oracle-gated. With the
    * whole table in one AvailableNow batch and a watermark delay far beyond
    * the data's time range, no EventTimeTimeout fires, so the emitted set is
    * deterministic: exactly the sessions closed by a later event — i.e.
    * every session except each user's last — which plain SQL can express. */
  private val qStreamSessions = QuerySpec(
    "q_stream_sessions",
    (s, dir) => {
      import s.implicits._
      val events = eventsStream(s, dir)
        .select(col("user_id").as("userId"), col("ts_us").as("tsMicros"))
        .as[graft.streaming.StreamOps.SessionEvent]
      val closed = graft.streaming.StreamOps.closedSessions(
        events, gapMicros = 1800000000L, watermarkDelay = "36500 days")
      runToMemory(s, closed.toDF(), "graft_stream_sessions", "append")
        .select(col("userId").as("user_id"), col("startMicros").as("start_us"),
          col("endMicros").as("end_us"), col("nEvents").as("n_events"))
        .orderBy("user_id", "start_us")
    },
    Some("""WITH g AS (
        SELECT user_id, ts,
          SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM (SELECT user_id, ts, event_id,
                CASE WHEN prev IS NULL OR epoch_us(ts) - prev > 1800000000
                     THEN 1 ELSE 0 END AS ns
              FROM (SELECT user_id, ts, event_id,
                      LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS prev
                    FROM events) a) b),
      sess AS (
        SELECT user_id, sid, MIN(epoch_us(ts)) AS start_us,
               MAX(epoch_us(ts)) AS end_us, COUNT(*) AS n_events
        FROM g GROUP BY user_id, sid)
      SELECT user_id, start_us, end_us, n_events FROM (
        SELECT s.*, MAX(sid) OVER (PARTITION BY user_id) AS max_sid FROM sess s) z
      WHERE sid < max_sid ORDER BY user_id, start_us"""))

  /** CompositeInputFormat parity at the physical level: both sides written
    * as bucketed+sorted tables on the join key, then joined — the
    * sort-merge join consumes bucket files directly with NO shuffle
    * exchange on either side (asserted in ScaleSpec). This is the map-side
    * merge join the reference builds its whole lib/join package for, and at
    * 100 TB it is the difference between re-shuffling the fact table per
    * join and a pure streaming merge of pre-organized files. */
  private val qBucketedJoin = QuerySpec(
    "q_bucketed_join",
    (s, dir) => {
      val sf = new java.io.File(dir).getName.replace('.', '_')
      val wh = Graft.scratch(dir, "bucketed")
      def writeBucketed(df: DataFrame, tbl: String, key: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        // pre-shuffle on the bucket key: each write task then owns exactly
        // one bucket, producing 16 files total instead of
        // (input partitions × 16) bucket fragments — fewer files to open on
        // the read side and a faster commit
        df.repartition(16, col(key)).write.mode("overwrite")
          .option("path", s"$wh/$tbl")
          .bucketBy(16, key).sortBy(key)
          .saveAsTable(tbl)
      }
      writeBucketed(t(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
        s"li_bk_$sf", "l_orderkey")
      writeBucketed(t(s, dir, "orders").select("o_orderkey", "o_orderstatus"),
        s"ord_bk_$sf", "o_orderkey")
      // merge hint: at test scale Catalyst would broadcast the small side,
      // bypassing the bucket path; at 100 TB both sides are large and SMJ is
      // what it picks anyway. The hint pins the plan shape the gate is about:
      // bucket-co-located sort-merge join, zero exchanges on either side.
      s.table(s"li_bk_$sf")
        .join(s.table(s"ord_bk_$sf").hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"), sumExact(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n_items,
      CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1"""))

  /** NLineInputFormat parity: task granularity = ceil(rows / N) partitions.
    * The observable contract (partition count; every partition non-empty
    * under round-robin) is emitted as a row and oracle-checked. */
  private val qNline = QuerySpec(
    "q_nline",
    (s, dir) => {
      val parts = SortOps.nlineRepartition(t(s, dir, "events"), 5000L)
      parts
        .select(spark_partition_id().as("pid"))
        .agg(
          countDistinct(col("pid")).as("n_partitions"),
          count(lit(1)).as("n_rows"))
    },
    Some("""SELECT CAST(CEIL(COUNT(*) / 5000.0) AS BIGINT) AS n_partitions,
      COUNT(*) AS n_rows FROM events"""))

  /** PII-style redaction gated at content level: emails/URLs/long digit
    * runs masked with typed placeholders, verified by md5 of the redacted
    * text against DuckDB applying the same RE2-compatible patterns. */
  private val qRedact = QuerySpec(
    "q_redact",
    (s, dir) =>
      core.Graft.rebalanceForCompute(t(s, dir, "documents"))
        .select(col("doc_id"),
          md5(TextFunctions.redact(col("text"))).as("redacted_md5"),
          (TextFunctions.redact(col("text")) =!= col("text")).as("was_redacted"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
      md5(regexp_replace(regexp_replace(regexp_replace(text,
        '\S+@\S+\.\S+', '<EMAIL>', 'g'),
        'https?://\S+', '<URL>', 'g'),
        '[0-9]{4,}', '<NUM>', 'g')) AS redacted_md5,
      regexp_replace(regexp_replace(regexp_replace(text,
        '\S+@\S+\.\S+', '<EMAIL>', 'g'),
        'https?://\S+', '<URL>', 'g'),
        '[0-9]{4,}', '<NUM>', 'g') <> text AS was_redacted
      FROM documents ORDER BY doc_id"""))

  /** Transitive near-dup CLUSTERS: the minhash pairs collapsed into
    * connected components, each member labeled with its component's min doc
    * id — turns pair detection into an actionable keep/drop list. Oracle =
    * the same LSH pipeline in SQL plus a recursive-CTE transitive closure. */
  private val qDedupClusters = QuerySpec(
    "q_dedup_clusters",
    (s, dir) =>
      DedupOps.nearDupClusters(
        DedupOps.minhashLsh(t(s, dir, "documents"), col("doc_id"), col("text"),
          shingleSize = 5, bands = 4, rowsPerBand = 2, minJaccard = 0.2))
        .orderBy("doc_id"),
    Some("""WITH RECURSIVE docs AS (
        SELECT doc_id, list_distinct(list_transform(
            generate_series(1, len(toks) - 4),
            i -> array_to_string(toks[i:i+4], ' '))) AS shingles
        FROM (SELECT doc_id,
                list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
              FROM documents) t
        WHERE len(toks) >= 5),
      sigs AS (
        SELECT doc_id, shingles,
          list_min(list_transform(shingles, s -> substr(md5(s), 1, 16))) AS mh0,
          list_min(list_transform(shingles, s -> substr(md5(s), 3, 16))) AS mh1,
          list_min(list_transform(shingles, s -> substr(md5(s), 5, 16))) AS mh2,
          list_min(list_transform(shingles, s -> substr(md5(s), 7, 16))) AS mh3,
          list_min(list_transform(shingles, s -> substr(md5(s), 9, 16))) AS mh4,
          list_min(list_transform(shingles, s -> substr(md5(s), 11, 16))) AS mh5,
          list_min(list_transform(shingles, s -> substr(md5(s), 13, 16))) AS mh6,
          list_min(list_transform(shingles, s -> substr(md5(s), 15, 16))) AS mh7
        FROM docs),
      banded AS (
        SELECT doc_id, shingles, b,
          CASE b WHEN 0 THEN mh0 || '|' || mh1 WHEN 1 THEN mh2 || '|' || mh3
                 WHEN 2 THEN mh4 || '|' || mh5 ELSE mh6 || '|' || mh7 END AS key
        FROM sigs, range(4) r(b)),
      cand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM banded x JOIN banded y ON x.b = y.b AND x.key = y.key
          AND x.doc_id < y.doc_id),
      verified AS (
        SELECT a, b FROM (
          SELECT p.a, p.b,
            ROUND(CAST(len(list_intersect(da.shingles, db.shingles)) AS DOUBLE) /
                  len(list_distinct(list_concat(da.shingles, db.shingles))), 6) AS jaccard
          FROM cand p JOIN docs da ON p.a = da.doc_id
                      JOIN docs db ON p.b = db.doc_id) v
        WHERE jaccard >= 0.2),
      und AS (SELECT a AS x, b AS y FROM verified
              UNION SELECT b, a FROM verified),
      reach AS (
        SELECT x, y FROM und
        UNION
        SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x)
      SELECT x AS doc_id, LEAST(x, MIN(y)) AS cluster_id
      FROM reach GROUP BY x ORDER BY doc_id"""))

  /** Ingestion-time cluster maintenance ([[DedupOps.incrementalClusters]])
    * — the full incremental dedup story end to end: the seen corpus is
    * clustered once; a batch (doc_id % 10 == 0) arrives, finds its pairs
    * via [[DedupOps.incrementalMinhashLsh]] against the stored
    * signatures, and the new pairs FOLD into the existing labeling
    * (star edges ∪ new pairs, min-label propagation) — including batches
    * that BRIDGE two old clusters. Oracle: the same from-scratch
    * recursive-CTE clustering over the whole corpus as q_dedup_clusters,
    * so every incremental labeling is checked against the full
    * recomputation it avoids.
    *
    * The existing labeling + signature store are STAGED state (the
    * `stage` hook writes them; the timed body reads them) — a real
    * ingest reads its persisted stores, and recomputing them per repeat
    * was from-scratch work billed to the incremental op's bench headline
    * (VERDICT r10 finding 2: 39.5 s first repeat vs 5.8 s min). */
  private val qDedupClustersInc = QuerySpec(
    "q_dedup_clusters_inc",
    (s, dir) => {
      val fix = Graft.scratch(dir, "fix_clusters_inc")
      val existing = s.read.parquet(s"$fix/existing")
      val seenSigs = s.read.parquet(s"$fix/seen_sigs")
      val batch = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      val newPairs = DedupOps.incrementalMinhashLsh(batch, col("doc_id"),
        col("text"), seenSigs, shingleSize = 5, bands = 4,
        rowsPerBand = 2, minJaccard = 0.2)
      DedupOps.incrementalClusters(existing, newPairs).orderBy("doc_id")
    },
    qDedupClusters.oracle,
    stage = Some((s, dir) => {
      val fix = Graft.scratch(dir, "fix_clusters_inc")
      val seen = t(s, dir, "documents").filter(col("doc_id") % 10 =!= 0)
      DedupOps.nearDupClusters(
          DedupOps.minhashLsh(seen, col("doc_id"), col("text"),
            shingleSize = 5, bands = 4, rowsPerBand = 2, minJaccard = 0.2))
        .coalesce(1).write.mode("overwrite").parquet(s"$fix/existing")
      DedupOps.minhashSignatures(seen, col("doc_id"), col("text"),
          shingleSize = 5, bands = 4, rowsPerBand = 2)
        .coalesce(1).write.mode("overwrite").parquet(s"$fix/seen_sigs")
    }))

  /** The same transitive clusters via alternating large-star/small-star
    * ([[DedupOps.nearDupClustersStar]]) — the O(log n)-round formulation for
    * long-chain components. Identical output contract and oracle as
    * q_dedup_clusters, so the two algorithms cross-check each other. */
  private val qDedupClustersStar = QuerySpec(
    "q_dedup_clusters_star",
    (s, dir) =>
      DedupOps.nearDupClustersStar(
        DedupOps.minhashLsh(t(s, dir, "documents"), col("doc_id"), col("text"),
          shingleSize = 5, bands = 4, rowsPerBand = 2, minJaccard = 0.2))
        .orderBy("doc_id"),
    qDedupClusters.oracle)

  /** Repetition-ratio quality signal (duplicate-trigram fraction per doc) —
    * the Gopher/C4-style boilerplate filter over the documents corpus. */
  private val qRepetition = QuerySpec(
    "q_repetition",
    (s, dir) =>
      MapOps.repetitionStats(t(s, dir, "documents"), col("doc_id"), col("text"), n = 3)
        .orderBy("doc_id"),
    Some("""WITH toks AS (SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents),
      tri AS (SELECT doc_id, unnest(list_transform(
            generate_series(1, len(t) - 2),
            i -> array_to_string(t[i:i+2], ' '))) AS g
        FROM toks WHERE len(t) >= 3),
      cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM tri GROUP BY 1, 2)
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_ngrams, MAX(c) AS max_rep,
        ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS rep_ratio
      FROM cnt GROUP BY 1 ORDER BY doc_id"""))

  /** Deterministic hash-split of the corpus into train/val/test — assignment
    * is a pure function of the doc key (portable md5 arithmetic), so DuckDB
    * derives the identical partition of the data. */
  private val qHashSplit = QuerySpec(
    "q_hash_split",
    (s, dir) => {
      SortOps.hashSplit(t(s, dir, "documents"), col("doc_id"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("split")
    },
    Some("""SELECT split, COUNT(*) AS n_docs, MIN(doc_id) AS min_id,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM (SELECT doc_id, n_chars,
        CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        FROM (SELECT doc_id, n_chars,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS b
          FROM documents) h) t
      GROUP BY 1 ORDER BY 1"""))

  /** Streaming ETL write path end-to-end: file stream source -> exactly-once
    * parquet file sink (checkpointed manifest commit — Spark's streaming
    * answer to the reference's OutputCommitter) -> batch scan of the sunk
    * files checked against the oracle. Re-runs are idempotent: the
    * checkpoint replays nothing and the manifest hides partial files. */
  private val qStreamEtl = QuerySpec(
    "q_stream_etl",
    (s, dir) => {
      val schema = "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"
      val streamDir = linkedSource(dir, "streamsrc", "events")
      val out = Graft.scratch(dir, "stream_etl")
      runAvailableNow(s, s.readStream.schema(schema)
        .parquet(streamDir.toString)
        .select(col("event_id"), col("event_type"), col("value"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", s"$out.ckpt")
        .outputMode("append"))
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, COUNT(*) AS cnt,
      CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** The native codegen'd Catalyst expression exercised through SQL TEXT:
    * graft_cosine registered on the running session (same wiring as the
    * spark.sql.extensions entry point in plans.GraftExtensions) and called
    * from a plain SQL join — a pure-SQL user gets the custom expression
    * with whole-stage codegen, no Column API involved. */
  private val qSqlNativeCosine = QuerySpec(
    "q_sql_native_cosine",
    (s, dir) => {
      graft.plans.NativeFunctions.register(s)
      t(s, dir, "embeddings").createOrReplaceTempView("emb_sql")
      s.sql("""
        SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
          ROUND(graft_cosine(q.embedding, c.embedding), 6) AS sim
        FROM emb_sql q JOIN emb_sql c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 5
        ORDER BY query_id, nbr_id""")
    },
    Some("""SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        ROUND(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
          (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) *
           sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))),
          6) AS sim
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 5
      ORDER BY query_id, nbr_id"""))

  /** Deterministic-stub video frame sampling gated structurally: the
    * one-row-in/n-frames-out generator shape with equal byte spans. The
    * oracle reproduces the span arithmetic over octet_length. */
  private val qFrameSample = QuerySpec(
    "q_frame_sample",
    (s, dir) => {
      MultimodalOps.frameSampleStub(
        MultimodalOps.withBinaryPayload(t(s, dir, "documents"), "text"),
        "doc_id", "payload", n = 5)
        .select(col("doc_id"), col("frame").cast("long").as("frame"),
          length(col("payload")).cast("long").as("frame_len"))
        .orderBy("doc_id", "frame")
    },
    Some("""WITH d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
               GREATEST(length(text) // 5, 1) AS span FROM documents)
      SELECT doc_id, f AS frame,
        LEAST(LEAST(f*span, len) + span, len) - LEAST(f*span, len) AS frame_len
      FROM d, generate_series(0, 4) t(f)
      ORDER BY doc_id, frame"""))

  /** Deterministic-stub image resize gated at CONTENT level: the fake
    * "decode" folds payload bytes into a w*h grid (byte i = input byte
    * i mod len), which over the all-ASCII corpus equals the first w*h chars
    * of the repeated text — so DuckDB can md5 the identical bytes. */
  private val qResize = QuerySpec(
    "q_resize",
    (s, dir) => {
      import s.implicits._
      MultimodalOps.resizeStub(
        MultimodalOps.withBinaryPayload(t(s, dir, "documents"), "text"),
        "doc_id", "payload", w = 8, h = 8)
        .toDF("doc_id", "resized")
        .select(col("doc_id"), md5(col("resized")).as("rmd5"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, md5(substr(repeat(text, 3), 1, 64)) AS rmd5
      FROM documents ORDER BY doc_id"""))

  /** REAL-codec image resize ([[MultimodalOps.resizeImage]], PNG arm):
    * fixture encodes each doc's bytes as a genuine 16x16 grayscale PNG
    * (javax.imageio — JDK codec, no external dependency), the operator
    * decodes, nearest-neighbor scales to 8x8 with exact dstX*srcW/dstW
    * arithmetic, and re-encodes PNG; the gate decodes the OUTPUT PNG back
    * to pixels and hashes them. The oracle replays the two exact index
    * mappings (byte i -> pixel, then 2x decimation) in SQL — so a codec
    * bug anywhere in decode/scale/encode breaks the hash. */
  private val qResizePng = QuerySpec(
    "q_resize_png",
    (s, dir) => {
      import s.implicits._
      val png = core.Graft.rebalanceForCompute(t(s, dir, "documents"))
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          // byte-indexed fixture vs char-indexed substr()/unicode() oracle:
          // equivalent ONLY for ASCII — fail loudly if the corpus changes
          val b = text.getBytes("UTF-8")
          require(b.length == text.length, s"non-ASCII text in doc $id")
          (id, MultimodalOps.encodePngGray(
            Array.tabulate[Byte](256)(i => b(i % b.length)), 16, 16))
        }
        .toDF("doc_id", "payload")
      MultimodalOps.resizeImage(png, "doc_id", "payload", w = 8, h = 8)
        .map { case (id, out) => (id, MultimodalOps.decodePngGray(out)) }
        .toDF("doc_id", "pixels")
        .select(col("doc_id"), md5(col("pixels")).as("rmd5"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, md5(string_agg(
        substr(text, ((2*(i//8)*16 + 2*(i%8)) % length(text)) + 1, 1),
        '' ORDER BY i)) AS rmd5
      FROM documents, generate_series(0, 63) t(i)
      GROUP BY doc_id ORDER BY doc_id"""))

  /** BPE pair statistics ([[BpeOps.corpusPairCounts]]) — the tokenizer-
    * training aggregation: corpus reduces once to a weighted word table,
    * adjacent character-pair counts aggregate over it (the round-1 merge
    * candidates). Oracle replays word splitting + pair construction with
    * DuckDB list ops. Full iterative training ([[BpeOps.trainMerges]]) and
    * tokenization are pinned by BpeOpsSpec (k-round argmax is driver-side
    * control flow, not SQL-expressible). */
  private val qBpePairs = QuerySpec(
    "q_bpe_pairs",
    (s, dir) =>
      BpeOps.corpusPairCounts(t(s, dir, "documents"), col("text"))
        .orderBy(col("n").desc, col("pair"))
        .limit(50),
    Some("""WITH w AS (
        SELECT word, COUNT(*)::BIGINT AS cnt FROM (
          SELECT unnest(regexp_split_to_array(text, '\s+')) AS word
          FROM documents) t
        WHERE word <> '' GROUP BY word),
      p AS (
        SELECT cnt, unnest(list_transform(
            range(1, len(string_split(word, ''))),
            i -> string_split(word, '')[i] || ' ' || string_split(word, '')[i+1]))
          AS pair
        FROM w)
      SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n
      FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 50"""))

  /** Embedding-corpus Gramian ([[SimilarityOps.gramian]]) — the PCA /
    * covariance building block: Σ v·vᵀ in ONE log-depth treeAggregate
    * (corpus never shuffles; driver holds d² doubles). Products quantize to
    * the 1e-6 decimal grid pre-sum so the result is order-independent and
    * the DuckDB decimal oracle matches bit-for-bit. */
  private val qGramian = QuerySpec(
    "q_gramian",
    (s, dir) => SimilarityOps.gramian(t(s, dir, "embeddings"))
      .orderBy("i", "j"),
    Some("""SELECT i, j,
        CAST(SUM(CAST(CAST(list_extract(embedding, i) AS DOUBLE)
          * CAST(list_extract(embedding, j) AS DOUBLE)
          AS DECIMAL(20,6))) AS DOUBLE) AS gram
      FROM embeddings, generate_series(1, 64) ti(i), generate_series(1, 64) tj(j)
      WHERE i <= j GROUP BY i, j ORDER BY i, j"""))

  /** REAL-codec JPEG resize ([[MultimodalOps.resizeImage]], JPEG arm —
    * javax.imageio ships a real JPEG codec): fixture encodes each doc's
    * bytes as a genuine quality-0.95 grayscale JPEG, the operator decodes
    * and NN-scales it, and the gate measures per-pixel error against the
    * exact expected grid. JPEG is lossy so the hash can't replay pixel
    * values; instead the gate asserts a tolerance an intact codec path
    * meets by 2-3x margin (measured worst: max 6 / mean 2) and a broken
    * pixel mapping cannot (ASCII-noise baseline: mean ~31). */
  private val qResizeJpeg = QuerySpec(
    "q_resize_jpeg",
    (s, dir) => {
      import s.implicits._
      val docs = core.Graft.rebalanceForCompute(t(s, dir, "documents"))
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val jpeg = docs.as[(Long, String)]
        .map { case (id, text) =>
          // byte-indexed fixture vs char-indexed substr()/unicode() oracle:
          // equivalent ONLY for ASCII — fail loudly if the corpus changes
          val b = text.getBytes("UTF-8")
          require(b.length == text.length, s"non-ASCII text in doc $id")
          (id, MultimodalOps.encodeJpegGray(
            Array.tabulate[Byte](256)(i => b(i % b.length)), 16, 16))
        }
        .toDF("doc_id", "payload")
      MultimodalOps.resizeImage(jpeg, "doc_id", "payload", w = 8, h = 8)
        .toDF("doc_id", "resized")
        .join(docs, Seq("doc_id"))
        .as[(Long, Array[Byte], String)]
        .map { case (id, out, text) =>
          val px = MultimodalOps.decodePngGray(out)
          // byte-indexed fixture vs char-indexed substr()/unicode() oracle:
          // equivalent ONLY for ASCII — fail loudly if the corpus changes
          val b = text.getBytes("UTF-8")
          require(b.length == text.length, s"non-ASCII text in doc $id")
          var maxE = 0
          var sum = 0
          var i = 0
          while (i < px.length) {
            val exp = b(((2 * (i / 8)) * 16 + 2 * (i % 8)) % b.length) & 0xff
            val e = math.abs((px(i) & 0xff) - exp)
            maxE = math.max(maxE, e)
            sum += e
            i += 1
          }
          (id, px.length.toLong, maxE <= 16 && sum / 64.0 <= 4.0)
        }
        .toDF("doc_id", "n_pixels", "within_tol")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, CAST(64 AS BIGINT) AS n_pixels,
      TRUE AS within_tol FROM documents ORDER BY doc_id"""))

  /** REAL-codec frame sampling ([[MultimodalOps.frameSampleGif]]): fixture
    * encodes six 8x8 grayscale frames per doc as a genuine ANIMATED GIF
    * (javax.imageio, indexed gray palette — lossless), the operator decodes
    * the multi-image container and samples 3 frames at exact s*F/n stride,
    * and the gate hashes each sampled frame's decoded pixels. The oracle
    * replays frame construction + stride (source frame 2s) in SQL. */
  private val qFrameSampleGif = QuerySpec(
    "q_frame_sample_gif",
    (s, dir) => {
      import s.implicits._
      val gif = core.Graft.rebalanceForCompute(t(s, dir, "documents"))
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          // byte-indexed fixture vs char-indexed substr()/unicode() oracle:
          // equivalent ONLY for ASCII — fail loudly if the corpus changes
          val b = text.getBytes("UTF-8")
          require(b.length == text.length, s"non-ASCII text in doc $id")
          val frames = (0 until 6).map(f =>
            Array.tabulate[Byte](64)(i => b((f * 64 + i) % b.length)))
          (id, MultimodalOps.encodeGifFrames(frames, 8, 8))
        }
        .toDF("doc_id", "payload")
      MultimodalOps.frameSampleGif(gif, "doc_id", "payload", n = 3)
        .select(col("doc_id"), col("frame").cast("long").as("frame"),
          md5(col("payload")).as("fmd5"))
        .orderBy("doc_id", "frame")
    },
    Some("""SELECT doc_id, s AS frame,
        md5(string_agg(
          substr(text, ((s*2*64 + i) % length(text)) + 1, 1),
          '' ORDER BY i)) AS fmd5
      FROM documents, generate_series(0, 2) ts(s), generate_series(0, 63) ti(i)
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** REAL video keyframe extraction ([[MultimodalOps.keyframesAvi]] over
    * [[MultimodalOps.encodeAviMjpeg]]): the fixture packs six 8×8
    * grayscale frames per document into a GENUINE AVI/MJPEG container
    * (RIFF framing + one real ImageIO JPEG per '00dc' chunk + the
    * standard 'idx1' index) with frames 0/2/4 flagged AVIIF_KEYFRAME;
    * the operator walks the RIFF index and decodes ONLY the flagged
    * frames — never touching the others' bytes, the O(keyframes)
    * property a 100 TB video corpus needs. Keyframe SELECTION is exact
    * (which frames surface); pixel fidelity is JPEG-bounded, so the
    * gate checks a tolerance against the replayed fixture construction
    * (the q_resize_jpeg discipline) and the oracle pins the exact
    * (doc, frame) structure. This retires the video-arm stub for the
    * container/index/JPEG path; non-JDK codecs (H.264, webp) remain
    * disclosed stubs. */
  private val qVideoKeyframes = QuerySpec(
    "q_video_keyframes",
    (s, dir) => {
      import s.implicits._
      val docs = core.Graft.rebalanceForCompute(t(s, dir, "documents"))
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val avi = docs.as[(Long, String)]
        .map { case (id, text) =>
          // byte-indexed fixture vs char-indexed oracle: ASCII only
          val b = text.getBytes("UTF-8")
          require(b.length == text.length, s"non-ASCII text in doc $id")
          val frames = (0 until 6).map(f =>
            Array.tabulate[Byte](64)(i => b((f * 64 + i) % b.length)))
          (id, MultimodalOps.encodeAviMjpeg(frames, 8, 8, f => f % 2 == 0))
        }
        .toDF("doc_id", "payload")
      MultimodalOps.keyframesAvi(avi, "doc_id", "payload")
        .toDF("doc_id", "frame", "pixels")
        .join(docs, Seq("doc_id"))
        .as[(Long, Int, Array[Byte], String)]
        .map { case (id, f, px, text) =>
          val b = text.getBytes("UTF-8")
          var maxE = 0
          var sum = 0
          var i = 0
          while (i < px.length) {
            val exp = b((f * 64 + i) % b.length) & 0xff
            val e = math.abs((px(i) & 0xff) - exp)
            maxE = math.max(maxE, e)
            sum += e
            i += 1
          }
          (id, f.toLong, px.length.toLong, maxE <= 48 && sum / 64.0 <= 12.0)
        }
        .toDF("doc_id", "frame", "n_pixels", "within_tol")
        .orderBy("doc_id", "frame")
    },
    Some("""SELECT doc_id, CAST(s * 2 AS BIGINT) AS frame,
        CAST(64 AS BIGINT) AS n_pixels, TRUE AS within_tol
      FROM documents, generate_series(0, 2) t(s)
      ORDER BY 1, 2"""))

  /** REAL-codec audio features ([[MultimodalOps.audioStripeMeans]]): fixture
    * encodes each doc's char codes as genuine 16-bit mono PCM WAV (RIFF
    * container, manually framed — WAV is uncompressed, so no codec library
    * is needed and the decode is fully real); the operator walks the RIFF
    * chunks, decodes samples in the executors, and aggregates per-stripe
    * means map-side like any Spark agg. Oracle replays sample extraction
    * with unicode() over the same char positions. */
  private val qWavFeatures = QuerySpec(
    "q_wav_features",
    (s, dir) => {
      import s.implicits._
      // NOT rebalanced: the RIFF walk is too cheap to amortize an exchange
      // (measured 0.38 s serial vs 0.66 s rebalanced at sf0.1)
      val wav = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          // byte-indexed fixture vs char-indexed substr()/unicode() oracle:
          // equivalent ONLY for ASCII — fail loudly if the corpus changes
          val b = text.getBytes("UTF-8")
          require(b.length == text.length, s"non-ASCII text in doc $id")
          (id, MultimodalOps.encodeWavPcm16(
            Array.tabulate[Short](64)(i => b(i % b.length).toShort)))
        }
        .toDF("doc_id", "payload")
      MultimodalOps.audioStripeMeans(wav, "doc_id", "payload", stripes = 8)
        .select(col("doc_id"), col("stripe").cast("long").as("stripe"),
          round(col("mean_sample"), 6).as("mean_sample"))
        .orderBy("doc_id", "stripe")
    },
    Some("""SELECT doc_id, i % 8 AS stripe,
        round(AVG(unicode(substr(text, (i % length(text)) + 1, 1))), 6)
          AS mean_sample
      FROM documents, generate_series(0, 63) t(i)
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Counters parity gated end-to-end: observe() metrics aggregate on the
    * executors during a real action (noop write) — the reference's
    * zero-extra-pass counter semantics — then the driver-read values are
    * emitted as a row and checked against SQL computing the same stats. */
  private val qCounters = QuerySpec(
    "q_counters",
    (s, dir) => {
      val (df, obs) = graft.core.CounterOps.withCounters(
        t(s, dir, "events").filter(col("value") > 50.0),
        "graft_counters",
        Map(
          "n_records" -> count(lit(1)),
          "sum_value" -> sum(col("value").cast("decimal(18,6)")),
          "max_value" -> max(col("value"))))
      df.write.format("noop").mode("overwrite").save()
      val m = obs.get
      import s.implicits._
      Seq((
        m("n_records").asInstanceOf[Long],
        m("sum_value").asInstanceOf[java.math.BigDecimal].doubleValue,
        m("max_value").asInstanceOf[Double]))
        .toDF("n_records", "sum_value", "max_value")
    },
    Some("""SELECT COUNT(*) AS n_records,
      CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value,
      MAX(value) AS max_value
      FROM events WHERE value > 50.0"""))

  /** UserDefinedValueAggregatorDescriptor parity: the typed ValueHistogram
    * Aggregator registered by NAME as a SQL UDAF and invoked from SQL text —
    * the plug-your-aggregator-class-into-the-framework surface. Matches the
    * q_histogram oracle, so the custom-UDAF path and the compositional
    * two-level groupBy provably agree. */
  private val qUdafRegistry = QuerySpec(
    "q_udaf_registry",
    (s, dir) => {
      s.udf.register("value_histogram",
        udaf(new graft.functions.ValueHistogram,
          org.apache.spark.sql.Encoders.STRING))
      t(s, dir, "events").createOrReplaceTempView("events_udaf")
      s.sql("""
        SELECT key,
          vh.nDistinct AS n_distinct, vh.minFreq AS min_freq,
          ROUND(vh.medianFreq, 6) AS median_freq, vh.maxFreq AS max_freq,
          ROUND(vh.meanFreq, 6) AS mean_freq,
          ROUND(vh.stddevFreq, 6) AS stddev_freq
        FROM (SELECT event_type AS key,
                value_histogram(CAST(user_id AS STRING)) AS vh
              FROM events_udaf GROUP BY 1)
        ORDER BY key""")
    },
    Some("""SELECT key, COUNT(*) AS n_distinct, MIN(freq) AS min_freq,
      ROUND(quantile_cont(freq, 0.5), 6) AS median_freq,
      MAX(freq) AS max_freq,
      ROUND(CAST(SUM(freq) AS DOUBLE)/COUNT(*), 6) AS mean_freq,
      ROUND(stddev_pop(freq), 6) AS stddev_freq
      FROM (SELECT event_type AS key, user_id, COUNT(*) AS freq
            FROM events GROUP BY 1, 2) t
      GROUP BY key ORDER BY key"""))

  /** Salted hot-key join gated end-to-end: events has only a handful of
    * event_type values, so a plain shuffle join lands each type on one
    * reducer — the textbook skew case. saltedJoin spreads each hot key over
    * `saltBuckets` partitions by replicating the small right side. The gate
    * checks the salted plan computes exactly the plain-join result. */
  private val qSaltedJoin = QuerySpec(
    "q_salted_join",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val dim = ev.groupBy("event_type").agg(count(lit(1)).as("type_total"))
      SkewOps.saltedJoin(ev, dim, "event_type", saltBuckets = 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sumExact(col("value")).as("sum_value"),
          max(col("type_total")).as("type_total"))
        .orderBy("event_type")
    },
    Some("""SELECT e.event_type, COUNT(*) AS cnt,
      CAST(SUM(CAST(e.value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value,
      MAX(d.type_total) AS type_total
      FROM events e
      JOIN (SELECT event_type, COUNT(*) AS type_total FROM events GROUP BY 1) d
        ON e.event_type = d.event_type
      GROUP BY 1 ORDER BY 1"""))

  /** Streaming exact dedup — the incremental twin of q_dedup_exact, for a
    * training-data pipeline ingesting documents continuously. Grouped
    * aggregation on the content hash in complete mode; at production scale
    * the same plan runs in update mode with a watermark so state holds only
    * the hashes inside the dedup horizon. */
  private val qStreamDedup = QuerySpec(
    "q_stream_dedup",
    (s, dir) => {
      val schema = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
      val streamDir = linkedSource(dir, "streamdoc", "documents")
      val agg = s.readStream.schema(schema).parquet(streamDir.toString)
        .select(md5(col("text")).as("content_hash"), col("doc_id"))
        .groupBy("content_hash")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      runToMemory(s, agg, "graft_stream_dedup", "complete").orderBy("content_hash")
    },
    Some("""SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
      COUNT(*) AS n_copies FROM documents GROUP BY 1 ORDER BY content_hash"""))

  /** KeyFieldBased/BinaryPartitioner parity as an observable invariant:
    * after hash-partitioning on a key subset (here: event_type, and a char
    * slice of it), every row with the same subset key is in the SAME
    * partition — the contract reducers rely on. The gate emits
    * (keys, max partitions any key spans, partitions used) — the middle
    * value MUST be 1. */
  private val qPartitionerContract = QuerySpec(
    "q_partitioner_contract",
    (s, dir) => {
      val byFields = SortOps.partitionByKeyFields(
        t(s, dir, "events").select("event_type", "event_id"), 8, Seq(col("event_type")))
        .select(col("event_type"), spark_partition_id().as("pid"))
        .groupBy("event_type").agg(countDistinct(col("pid")).as("nparts"))
        .agg(countDistinct(col("event_type")).as("n_keys"),
          max(col("nparts")).cast("long").as("max_parts_per_key"))
      val bySlice = SortOps.partitionByKeySlice(
        t(s, dir, "events").select("event_type", "event_id"), 8, col("event_type"), 1, 3)
        .select(substring(col("event_type"), 1, 3).as("k3"), spark_partition_id().as("pid"))
        .groupBy("k3").agg(countDistinct(col("pid")).as("nparts"))
        .agg(countDistinct(col("k3")).as("n_keys"),
          max(col("nparts")).cast("long").as("max_parts_per_key"))
      byFields.withColumn("partitioner", lit("key_fields"))
        .unionByName(bySlice.withColumn("partitioner", lit("key_slice")))
        .select("partitioner", "n_keys", "max_parts_per_key")
        .orderBy("partitioner")
    },
    Some("""SELECT 'key_fields' AS partitioner,
        COUNT(DISTINCT event_type) AS n_keys, CAST(1 AS BIGINT) AS max_parts_per_key
      FROM events
      UNION ALL
      SELECT 'key_slice', COUNT(DISTINCT substr(event_type, 1, 3)), CAST(1 AS BIGINT)
      FROM events ORDER BY partitioner"""))

  /** AutoInputFormat parity end-to-end: sink as csv, re-scan through the
    * extension-sniffing auto source, aggregate. */
  private val qAutoSource = QuerySpec(
    "q_auto_source",
    (s, dir) => {
      val out = Graft.scratch(dir, "auto.csv")
      Graft.sink(
        t(s, dir, "orders")
          .select(col("o_orderkey").cast("string"), col("o_orderstatus")),
        out, format = "csv")
      Graft.source(s, out, format = "auto")
        .toDF("k", "status")
        .groupBy("status")
        .agg(count(lit(1)).as("cnt"), max(col("k")).as("max_key"))
        .orderBy("status")
    },
    Some("""SELECT o_orderstatus AS status, COUNT(*) AS cnt,
      MAX(CAST(o_orderkey AS VARCHAR)) AS max_key
      FROM orders GROUP BY 1 ORDER BY 1"""))

  /** Bucketed point-in-interval range join ([[JoinOps.rangeJoin]]): events
    * matched into overlapping value bands via equi-join on fixed-width
    * buckets + residual BETWEEN — the scalable plan (hash shuffle on a
    * numeric key) where naive range predicates would pick
    * BroadcastNestedLoop. */
  private val qRangeJoin = QuerySpec(
    "q_range_join",
    (s, dir) => {
      val bands = s.range(0, 40).select(
        col("id").as("band"),
        (col("id") * lit(12.5)).as("lo"),
        (col("id") * lit(12.5) + lit(25.0)).as("hi"))
      JoinOps.rangeJoin(
          t(s, dir, "events").select("event_id", "value"), bands,
          "value", "lo", "hi", bucketWidth = 25.0)
        .groupBy("band")
        .agg(count(lit(1)).as("n_events"), sumExact(col("value")).as("sum_value"))
        .orderBy("band")
    },
    Some("""SELECT band, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      FROM events e JOIN (
        SELECT CAST(i AS BIGINT) AS band, i*12.5 AS lo, i*12.5+25.0 AS hi
        FROM generate_series(0, 39) t(i)) b
      ON e.value >= b.lo AND e.value <= b.hi
      GROUP BY band ORDER BY band"""))

  /** The range join AGAIN, but written naively (plain BETWEEN condition) and
    * rewritten to the bucketed equi-join by the conf-gated optimizer rule
    * ([[graft.plans.RangeJoinRewrite]], injected via extraOptimizations /
    * GraftExtensions) — same oracle as q_range_join, so the rewrite is
    * proven semantics-preserving end-to-end. The plan materializes eagerly
    * (localCheckpoint) inside the rule-enabled scope. */
  private val qRangeJoinAuto = QuerySpec(
    "q_range_join_auto",
    (s, dir) => {
      val bands = s.range(0, 40).select(
        col("id").as("band"),
        (col("id") * lit(12.5)).as("lo"),
        (col("id") * lit(12.5) + lit(25.0)).as("hi"))
      val savedOpts = s.experimental.extraOptimizations
      s.experimental.extraOptimizations = savedOpts :+ graft.plans.RangeJoinRewrite
      s.conf.set("spark.graft.rangeJoin.bucketWidth", "25.0")
      try
        t(s, dir, "events").select("event_id", "value")
          .join(bands, col("value") >= col("lo") && col("value") <= col("hi"))
          .groupBy("band")
          .agg(count(lit(1)).as("n_events"), sumExact(col("value")).as("sum_value"))
          .orderBy("band")
          .localCheckpoint()
      finally {
        s.conf.unset("spark.graft.rangeJoin.bucketWidth")
        s.experimental.extraOptimizations = savedOpts
      }
    },
    Some("""SELECT band, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      FROM events e JOIN (
        SELECT CAST(i AS BIGINT) AS band, i*12.5 AS lo, i*12.5+25.0 AS hi
        FROM generate_series(0, 39) t(i)) b
      ON e.value >= b.lo AND e.value <= b.hi
      GROUP BY band ORDER BY band"""))

  /** GROUPING SETS surface (SURVEY §2.6 flags it free alongside rollup/cube):
    * two one-dimension sets plus the grand total in a single pass. */
  private val qGroupingSets = QuerySpec(
    "q_grouping_sets",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sumExact(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("cnt"), col("sum_qty"))
        .orderBy("rf", "ls"),
    Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
      COALESCE(l_linestatus, 'ALL') AS ls, COUNT(*) AS cnt,
      CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY rf, ls"""))

  /** TF-IDF top-terms per document ([[MapOps.tfIdfTopTerms]]) — corpus
    * statistics (tf, df, N) composed into a ranked keyword extraction. */
  private val qTfidf = QuerySpec(
    "q_tfidf",
    (s, dir) =>
      MapOps.tfIdfTopTerms(t(s, dir, "documents"), col("doc_id"), col("text"), k = 3)
        .orderBy("doc_id", "rnk"),
    Some("""WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
          x -> x <> '')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df_ FROM toks GROUP BY 1),
      n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks),
      scored AS (
        SELECT doc_id, term,
          ROUND(CAST(tf AS DOUBLE) *
            ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df_ AS DOUBLE) + 1.0)), 6)
            AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n),
      ranked AS (
        SELECT doc_id, term, tfidf,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
        FROM scored)
      SELECT doc_id, term, tfidf, rnk FROM ranked WHERE rnk <= 3
      ORDER BY doc_id, rnk"""))

  /** Per-label embedding centroids ([[SimilarityOps.centroids]]) — the
    * k-means/IVF-training building block, oracle-checked per position. */
  private val qEmbedCentroid = QuerySpec(
    "q_embed_centroid",
    (s, dir) =>
      SimilarityOps.centroids(t(s, dir, "embeddings"))
        .orderBy("label", "pos"),
    Some("""SELECT label, pos,
      CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,6))) AS DOUBLE)
        / COUNT(x) AS centroid
      FROM (SELECT label, unnest(embedding) AS x,
              CAST(unnest(generate_series(1, len(embedding))) AS BIGINT) AS pos
            FROM embeddings)
      GROUP BY label, pos ORDER BY label, pos"""))

  /** StreamXmlRecordReader parity end-to-end ([[core.Graft.xmlRecords]]):
    * rows serialized as XML-tag-delimited records (written across lines, as
    * the reference's reader allows), re-read by begin/end tag spans, fields
    * re-extracted and type-cast. */
  private val qXmlRecords = QuerySpec(
    "q_xml_records",
    (s, dir) => {
      val out = Graft.scratch(dir, "xml")
      Graft.sink(
        t(s, dir, "nation").select(concat(
          lit("<rec>\n  <key>"), col("n_nationkey"), lit("</key>\n  <name>"),
          col("n_name"), lit("</name>\n</rec>")).as("value")),
        out, format = "text")
      Graft.xmlRecords(s, out, "rec")
        .select(
          regexp_extract(col("record"), "<key>(.*?)</key>", 1).cast("int")
            .as("n_nationkey"),
          regexp_extract(col("record"), "<name>(.*?)</name>", 1).as("n_name"))
        .orderBy("n_nationkey")
    },
    Some("SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"))

  /** MultipleOutputs named-stream parity ([[core.Graft.namedSinks]]): one
    * cached pass fans out to per-name filtered sinks; the gate reads every
    * side output back and proves the split is exact and disjoint. */
  private val qNamedOutputs = QuerySpec(
    "q_named_outputs",
    (s, dir) => {
      val base = Graft.scratch(dir, "named")
      Graft.namedSinks(
        t(s, dir, "events").select("event_id", "event_type", "value"), base,
        Map(
          "high" -> (col("value") >= 250.0),
          "low" -> (col("value") < 250.0)))
      val high = Graft.source(s, s"$base/high").withColumn("out", lit("high"))
      val low = Graft.source(s, s"$base/low").withColumn("out", lit("low"))
      high.unionByName(low)
        .groupBy("out")
        .agg(count(lit(1)).as("cnt"), sumExact(col("value")).as("sum_value"))
        .orderBy("out")
    },
    Some("""SELECT CASE WHEN value >= 250.0 THEN 'high' ELSE 'low' END AS out,
      COUNT(*) AS cnt,
      CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** [[core.Graft.namedSinksAtomic]] — the SINGLE-COMMIT MultipleOutputs
    * semantics (VERDICT r15 missing item 5: N filtered writes were N
    * committer transactions): all named outputs stage under one hidden
    * job dir and publish together, the `_GRAFT_MULTI_SUCCESS` marker
    * landing LAST as the commit signal. The gate REQUIREs the marker
    * names every output, that a dead staging dir from a simulated
    * crashed attempt is invisible and swept, and that [[core.Graft
    * .readNamed]] refuses a torn view when the marker is retracted —
    * then hashes the recombined split. */
  private val qNamedOutputsAtomic = QuerySpec(
    "q_named_outputs_atomic",
    (s, dir) => {
      val base = Graft.scratch(dir, "namedat")
      val hfs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      hfs.delete(new org.apache.hadoop.fs.Path(base), true)
      // a dead staging dir from a "crashed" prior attempt: must stay
      // invisible to readers and be swept by the next publish
      hfs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/.staging_0/high"))
      val ev = t(s, dir, "events").select("event_id", "event_type", "value")
      Graft.namedSinksAtomic(ev, base, Map(
        "high" -> (col("value") >= 250.0),
        "low" -> (col("value") < 250.0),
        "scored" -> col("value").isNotNull))
      val marker = new org.apache.hadoop.fs.Path(
        base, "_GRAFT_MULTI_SUCCESS")
      require(hfs.exists(marker), "the commit marker must land")
      require(!hfs.listStatus(new org.apache.hadoop.fs.Path(base))
        .exists(_.getPath.getName.startsWith(".staging_")),
        "staging (incl. the dead prior attempt) must be swept")
      val names = {
        val in = hfs.open(marker)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().filter(_.nonEmpty).toSeq
        finally in.close()
      }
      require(names == Seq("high", "low", "scored"),
        s"marker must name every committed output, got $names")
      // marker retracted -> readers refuse the torn view
      hfs.delete(marker, false)
      val torn =
        try { Graft.readNamed(s, base, "high"); false }
        catch { case _: IllegalStateException => true }
      require(torn, "readNamed must refuse an uncommitted multi-output")
      // restore the marker (as a republish would) and read through it
      val out = hfs.create(marker, true)
      try out.write("high\nlow\nscored\n".getBytes("UTF-8"))
      finally out.close()
      val high = Graft.readNamed(s, base, "high").withColumn("out", lit("high"))
      val low = Graft.readNamed(s, base, "low").withColumn("out", lit("low"))
      val all = Graft.readNamed(s, base, "scored")
        .withColumn("out", lit("scored"))
      high.unionByName(low).unionByName(all)
        .groupBy("out")
        .agg(count(lit(1)).as("cnt"), sumExact(col("value")).as("sum_value"))
        .orderBy("out")
    },
    Some("""SELECT out, COUNT(*) AS cnt,
      CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      FROM (
        SELECT CASE WHEN value >= 250.0 THEN 'high' ELSE 'low' END AS out,
               value FROM events
        UNION ALL
        SELECT 'scored' AS out, value FROM events WHERE value IS NOT NULL)
      GROUP BY 1 ORDER BY 1"""))

  /** QuasiMonteCarlo parity (reference:
    * hadoop-mapreduce-examples .../examples/QuasiMonteCarlo.java:77 — π from
    * a low-discrepancy point set, generate + compute + combine): here the
    * Weyl sequence frac(i·α) over `spark.range`, one fused codegen stage +
    * one tiny agg. Every arithmetic step is IEEE-double on both engines, so
    * the inside-circle count is bit-reproducible — no sampling variance in
    * the gate. */
  private val qQuasiPi = QuerySpec(
    "q_quasi_pi",
    (s, dir) => {
      val n = 100000L
      val xa = col("id") * lit(0.6180339887498949)
      val ya = col("id") * lit(0.41421356237309515)
      val x = xa - floor(xa)
      val y = ya - floor(ya)
      s.range(1, n + 1)
        .select(when(x * x + y * y <= 1.0, 1L).otherwise(0L).as("inside"))
        .agg(count(lit(1)).as("n_points"), sum(col("inside")).as("n_inside"))
        .select(col("n_points"), col("n_inside"),
          round(lit(4.0) * col("n_inside").cast("double") /
            col("n_points").cast("double"), 6).as("pi_est"))
    },
    Some("""WITH f AS (
        SELECT CAST(i AS DOUBLE) * CAST(0.6180339887498949 AS DOUBLE) AS xa,
               CAST(i AS DOUBLE) * CAST(0.41421356237309515 AS DOUBLE) AS ya
        FROM generate_series(1, 100000) t(i)),
      p AS (SELECT xa - floor(xa) AS x, ya - floor(ya) AS y FROM f)
      SELECT COUNT(*) AS n_points,
        CAST(SUM(CASE WHEN x*x + y*y <= 1.0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_inside,
        ROUND(CAST(4 AS DOUBLE) *
          CAST(SUM(CASE WHEN x*x + y*y <= 1.0 THEN 1 ELSE 0 END) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE), 6) AS pi_est
      FROM p"""))

  /** DistributedPentomino/DistBbp parity ([[SearchOps.nQueensByFirstColumn]],
    * reference: MR-EX/dancing/DistributedPentomino.java:51 — prefix-split
    * exhaustive backtracking, one mapper per prefix, counts reduced): the
    * 8-queens search splits on the (col0, col1) prefix into 64 subtree
    * seeds, each counted by a bitmask backtracker inside mapPartitions.
    * The oracle recomputes the full search relationally (recursive CTE
    * with column/diagonal conflict lists), so the gate checks the SEARCH,
    * not a hardcoded 92. */
  private val qNqueens = QuerySpec(
    "q_nqueens",
    (s, _) => SearchOps.nQueensByFirstColumn(s, 8).orderBy("c0"),
    Some("""WITH RECURSIVE s(r, cols, d1, d2) AS (
        SELECT 0, [], [], []
        UNION ALL
        SELECT r + 1, list_append(cols, c),
          list_append(d1, c + r), list_append(d2, c - r)
        FROM s, range(8) t(c)
        WHERE r < 8 AND NOT list_contains(cols, c)
          AND NOT list_contains(d1, c + r)
          AND NOT list_contains(d2, c - r))
      SELECT CAST(cols[1] AS BIGINT) AS c0, COUNT(*) AS n_solutions
      FROM s WHERE r = 8 GROUP BY 1 ORDER BY 1"""))

  /** Analytic window-function breadth (SURVEY §2.7 — the surface the
    * reference's hand-coded reducers approximate): lag/lead, percent_rank,
    * cume_dist, ntile, and a running decimal-exact sum, all over one
    * (user, time) window with an explicit ROWS frame and total tie-break. */
  private val qWindowAnalytics = QuerySpec(
    "q_window_analytics",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .select(
          col("event_id"), col("user_id"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"),
          ntile(4).over(w).cast("long").as("quartile"),
          sum(col("value").cast("decimal(18,6)")).over(wRows)
            .cast("double").as("running_sum"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id,
        LAG(value, 1) OVER w AS prev_value,
        LEAD(value, 1) OVER w AS next_value,
        ROUND(PERCENT_RANK() OVER w, 6) AS pr,
        ROUND(CUME_DIST() OVER w, 6) AS cd,
        NTILE(4) OVER w AS quartile,
        CAST(SUM(CAST(value AS DECIMAL(20,6)))
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS DOUBLE) AS running_sum
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY event_id"""))

  /** Bigram conditional-probability model over the corpus — the n-gram LM
    * statistic (P(w2|w1) = c(w1 w2) / c(w1·)) that underlies perplexity-style
    * quality filters. Two shuffle-on-short-key aggregations + one join on the
    * context word. */
  private val qBigramLm = QuerySpec(
    "q_bigram_lm",
    (s, dir) => {
      val docs = core.Graft.rebalanceForCompute(t(s, dir, "documents"))
        .select(TextFunctions.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
      val bigrams = docs.select(explode(
          transform(sequence(lit(1), size(col("t")) - 1), i =>
            struct(element_at(col("t"), i).as("w1"),
              element_at(col("t"), i + 1).as("w2")))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c12 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      // context counts roll up from the bigram counts (sum of c12 per w1 =
      // bigrams starting with w1): the explode runs once, its exchange reused
      val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"))
      c12.join(c1, Seq("w1"))
        .select(col("w1"), col("w2"), col("c12"),
          round(col("c12").cast("double") / col("c1").cast("double"), 6).as("p"))
        .orderBy(col("c12").desc, col("w1"), col("w2"))
        .limit(100)
    },
    Some("""WITH toks AS (
        SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents),
      bi AS (
        SELECT t[i] AS w1, t[i+1] AS w2
        FROM toks, unnest(generate_series(1, len(t) - 1)) u(i)
        WHERE len(t) >= 2),
      c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY 1)
      SELECT w1, w2, c12,
        ROUND(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE), 6) AS p
      FROM c12 JOIN c1 USING (w1)
      ORDER BY c12 DESC, w1, w2 LIMIT 100"""))

  /** Compression-codec round-trips (the reference's per-codec output
    * compression, SequenceFileOutputFormat.setOutputCompressionType):
    * gzip'd text CSV and zstd parquet, each written and re-read, content
    * proven unchanged — including doubles surviving the text round-trip
    * (shortest-repr print + exact re-parse). */
  private val qCodecRoundtrip = QuerySpec(
    "q_codec_roundtrip",
    (s, dir) => {
      val base = Graft.scratch(dir, "codec")
      val src = t(s, dir, "events").select("event_id", "event_type", "value")
      Graft.sink(src, s"$base/gzip", format = "csv",
        options = Map("compression" -> "gzip"))
      Graft.sink(src, s"$base/zstd", format = "parquet",
        options = Map("compression" -> "zstd"))
      val gz = Graft.source(s, s"$base/gzip", format = "csv",
          options = Map("inferSchema" -> "false"))
        .toDF("event_id", "event_type", "value")
        .select(col("event_type"), col("value").cast("double"))
        .withColumn("codec", lit("gzip"))
      val zs = Graft.source(s, s"$base/zstd")
        .select(col("event_type"), col("value"))
        .withColumn("codec", lit("zstd"))
      gz.unionByName(zs)
        .groupBy("codec")
        .agg(count(lit(1)).as("cnt"), sumExact(col("value")).as("sum_value"))
        .orderBy("codec")
    },
    Some("""SELECT codec, COUNT(*) AS cnt,
      CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      FROM events CROSS JOIN (SELECT unnest(['gzip', 'zstd']) AS codec)
      GROUP BY codec ORDER BY codec"""))

  /** CombineFileInputFormat parity as a GATE (previously only asserted in
    * tests): 50 deliberately tiny files read back through Spark's file-source
    * bin-packing; the observable contract — every file seen, every row read,
    * fewer partitions than files — is emitted as a row. */
  private val qCombineFiles = QuerySpec(
    "q_combine_files",
    (s, dir) => {
      val out = Graft.scratch(dir, "small")
      t(s, dir, "events").select("event_id", "value")
        .repartition(50).write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .select(input_file_name().as("f"), spark_partition_id().as("p"))
        .agg(
          countDistinct(col("f")).as("n_files"),
          count(lit(1)).as("n_rows"),
          (countDistinct(col("p")) < countDistinct(col("f"))).as("bin_packed"))
    },
    Some("""SELECT CAST(50 AS BIGINT) AS n_files, COUNT(*) AS n_rows,
      TRUE AS bin_packed FROM events"""))

  /** HLL sketch surface (UniqValueCount's at-scale variant, SURVEY §2.6):
    * approx_count_distinct checked against the exact count with a 3-sigma
    * tolerance — the sketch's own contract, engine-portable. */
  private val qApproxDistinct = QuerySpec(
    "q_approx_distinct",
    (s, dir) =>
      t(s, dir, "events")
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.05).as("hll"))
        .select(col("exact_users"),
          (abs(col("hll") - col("exact_users")).cast("double") /
            col("exact_users").cast("double") <= 0.15).as("hll_ok")),
    Some("""SELECT COUNT(DISTINCT user_id) AS exact_users, TRUE AS hll_ok
      FROM events"""))

  /** Train/test contamination ([[DedupOps.contaminationCheck]]) composed
    * with the portable [[SortOps.hashSplit]]: per test document, the
    * fraction of its 8-gram shingles that leak from the train split. The
    * oracle replays the split assignment AND the overlap join. */
  private val qContamination = QuerySpec(
    "q_contamination",
    (s, dir) => {
      val docs = SortOps.hashSplit(t(s, dir, "documents"), col("doc_id"))
      DedupOps.contaminationCheck(docs, col("doc_id"), col("text"),
          col("split"), shingleSize = 8)
        .orderBy("doc_id")
    },
    Some("""WITH sp AS (SELECT doc_id, text,
        CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
          AS split
      FROM (SELECT doc_id, text,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          % 100 AS b
        FROM documents) h),
      toks AS (SELECT doc_id, split,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM sp),
      sh AS (SELECT doc_id, split, unnest(list_distinct(list_transform(
            generate_series(1, len(t) - 7),
            i -> array_to_string(t[i:i+7], ' ')))) AS g
        FROM toks WHERE len(t) >= 8),
      train AS (SELECT DISTINCT g FROM sh WHERE split = 'train'),
      tst AS (SELECT doc_id, g FROM sh WHERE split = 'test')
      SELECT t.doc_id, COUNT(*) AS n_shingles,
        CAST(COUNT(tr.g) AS BIGINT) AS n_hits,
        CAST(COUNT(tr.g) AS DOUBLE) / COUNT(*) AS contamination
      FROM tst t LEFT JOIN train tr ON t.g = tr.g
      GROUP BY 1 ORDER BY doc_id"""))

  /** Magic-byte format sniffing ([[MultimodalOps.sniffFormat]]): payloads
    * built with REAL container magics (PNG/JPEG/WAVE and a neutral byte)
    * route by the sniffed format. Spark derives the format FROM THE BYTES;
    * the oracle derives it from the construction rule — matching proves the
    * sniff is right. */
  private val qSniffFormat = QuerySpec(
    "q_sniff_format",
    (s, dir) => {
      val m = pmod(col("doc_id"), lit(4))
      val magic = when(m === 0,
          lit(Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47)))
        .when(m === 1, lit(Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte)))
        .when(m === 2, concat(lit("RIFF".getBytes("UTF-8")),
          lit(Array[Byte](0, 0, 0, 0)), lit("WAVE".getBytes("UTF-8"))))
        .otherwise(lit(Array[Byte](0x00)))
      val payload = concat(magic, encode(col("text"), "utf-8"))
      t(s, dir, "documents")
        .select(col("doc_id"), MultimodalOps.sniffFormat(payload).as("format"))
        .groupBy("format")
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("min_id"))
        .orderBy("format")
    },
    Some("""SELECT CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        WHEN 2 THEN 'wav' ELSE 'unknown' END AS format,
      COUNT(*) AS cnt, MIN(doc_id) AS min_id
      FROM documents GROUP BY 1 ORDER BY 1"""))

  /** Video-container ROUTING ([[MultimodalOps.routeKeyframes]], VERDICT
    * r14 item 8): payloads built with REAL published magics — ISO-BMFF
    * `ftyp` (mp4), RIFF/WEBP, EBML (webm), plus a neutral byte — all
    * route to the EXPLICIT documented-refusal stub arm (no JDK codec
    * for those bitstreams; `decoded = false`, format kept, payload =
    * the deterministic first-⌊n/6⌋ slice). The AVI arm's REAL decode is
    * gated separately (q_video_keyframes). Spark derives format and
    * stub size FROM THE BYTES; the oracle replays the construction
    * rule — matching proves sniff AND slice arithmetic. */
  private val qVideoRoute = QuerySpec(
    "q_video_route",
    (s, dir) => {
      val m = pmod(col("doc_id"), lit(4))
      val magic = when(m === 0, concat(
          lit(Array[Byte](0, 0, 0, 32)), lit("ftypisom".getBytes("UTF-8"))))
        .when(m === 1, concat(lit("RIFF".getBytes("UTF-8")),
          lit(Array[Byte](0, 0, 0, 0)), lit("WEBP".getBytes("UTF-8"))))
        .when(m === 2, lit(Array[Byte](0x1A, 0x45, 0xDF.toByte, 0xA3.toByte)))
        .otherwise(lit(Array[Byte](0x00)))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(magic, encode(col("text"), "utf-8")).as("payload"))
      MultimodalOps.routeKeyframes(docs, "doc_id", "payload")
        .groupBy(col("format"))
        .agg(count(lit(1)).as("cnt"),
          sum(length(col("payload"))).as("stub_bytes"),
          every(!col("decoded")).as("all_stub"))
        .orderBy("format")
    },
    Some("""SELECT CASE doc_id % 4 WHEN 0 THEN 'mp4' WHEN 1 THEN 'webp'
        WHEN 2 THEN 'webm' ELSE 'unknown' END AS format,
      COUNT(*) AS cnt,
      CAST(SUM(GREATEST(1, (CASE doc_id % 4 WHEN 0 THEN 12 WHEN 1 THEN 12
          WHEN 2 THEN 4 ELSE 1 END + octet_length(encode(text))) // 6))
        AS BIGINT) AS stub_bytes,
      TRUE AS all_stub
      FROM documents GROUP BY 1 ORDER BY 1"""))

  /** Ingestion-time dedup ([[DedupOps.incrementalExactDedup]]): the second
    * half of the corpus arrives as a batch and drops anything whose content
    * hash is already in the first half (or duplicated within the batch —
    * first id wins). */
  private val qIncrementalDedup = QuerySpec(
    "q_incremental_dedup",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val seen = docs.filter(col("doc_id") < 250)
        .select(md5(col("text")).as("content_hash")).distinct()
      DedupOps.incrementalExactDedup(
          docs.filter(col("doc_id") >= 250).select("doc_id", "text"),
          col("doc_id"), col("text"), seen)
        .select(col("doc_id"), col("content_hash"))
        .orderBy("doc_id")
    },
    Some("""WITH seen AS (SELECT DISTINCT md5(text) AS h FROM documents
        WHERE doc_id < 250),
      incoming AS (SELECT doc_id, md5(text) AS h FROM documents
        WHERE doc_id >= 250),
      fresh AS (SELECT doc_id, h,
          ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM incoming WHERE h NOT IN (SELECT h FROM seen))
      SELECT doc_id, h AS content_hash FROM fresh WHERE rn = 1
      ORDER BY doc_id"""))

  /** Equi-depth histogram ([[AggOps.equiDepthHistogram]]) of order totals:
    * quantile bucket bounds, ~equal counts per bucket — the skew-proof
    * distribution profile. */
  private val qEquiDepth = QuerySpec(
    "q_equidepth_histogram",
    (s, dir) =>
      AggOps.equiDepthHistogram(t(s, dir, "orders"), "o_totalprice", 8)
        .orderBy("bucket"),
    Some("""WITH cuts AS (SELECT quantile_cont(o_totalprice,
        [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS c FROM orders)
      SELECT CAST(len(list_filter(c, x -> x < o_totalprice)) AS BIGINT)
          AS bucket,
        COUNT(*) AS cnt, ROUND(MIN(o_totalprice), 6) AS min_v,
        ROUND(MAX(o_totalprice), 6) AS max_v
      FROM orders, cuts GROUP BY 1 ORDER BY 1"""))

  /** Typed cogroup ([[JoinOps.cogroupCounts]]) — the datajoin framework's
    * general per-key (leftRows, rightRows) contract: orders cogrouped with
    * lineitem on orderkey, counting each side. Oracle = full outer join of
    * the two group-bys, the relational reading of the same semantics. */
  private val qCogroup = QuerySpec(
    "q_cogroup",
    (s, dir) =>
      JoinOps.cogroupCounts(
          t(s, dir, "orders"), col("o_orderkey"),
          t(s, dir, "lineitem"), col("l_orderkey"))
        .orderBy("key"),
    Some("""SELECT COALESCE(o.k, l.k) AS key,
        COALESCE(o.n, 0) AS n_left, COALESCE(l.n, 0) AS n_right
      FROM (SELECT o_orderkey AS k, COUNT(*) AS n FROM orders GROUP BY 1) o
      FULL OUTER JOIN
        (SELECT l_orderkey AS k, COUNT(*) AS n FROM lineitem GROUP BY 1) l
        ON o.k = l.k
      ORDER BY key"""))

  /** Streaming -> JDBC via foreachBatch (the DBOutputFormat streaming twin):
    * the events feed aggregates per batch and lands in embedded Derby; the
    * checkpoint makes re-runs exactly-once (a replayed Verify run skips the
    * completed batch and the table is untouched). Read back over JDBC and
    * oracle-checked against the source parquet. */
  private val qStreamJdbc = QuerySpec(
    "q_stream_jdbc",
    (s, dir) => {
      val schema = "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"
      val streamDir = linkedSource(dir, "streamsrc", "events")
      val url = derbyUrl(dir)
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      val feed = s.readStream.schema(schema).parquet(streamDir.toString)
        .select(col("event_type"), col("value"))
      runAvailableNow(s, feed.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val agg = batch.groupBy("event_type")
            .agg(count(lit(1)).as("cnt"), sumExact(col("value")).as("sum_value"))
          graft.sources.Jdbc.write(agg, url, "stream_agg",
            mode = "overwrite", props = props)
          ()
        }
        .option("checkpointLocation", Graft.scratch(dir, "stream_jdbc.ckpt")))
      graft.sources.Jdbc.readOne(s, url, "stream_agg", props)
        .orderBy("event_type")
    },
    Some("""SELECT event_type, COUNT(*) AS cnt,
      CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** Perplexity-style quality scoring ([[MapOps.bigramSurprisal]]): each
    * document's mean bigram surprisal under the corpus's own LM — the
    * standard both-tails filter signal. */
  private val qSurprisal = QuerySpec(
    "q_surprisal",
    (s, dir) =>
      MapOps.bigramSurprisal(t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("doc_id"),
    Some("""WITH toks AS (SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents),
      bb AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS w1,
          unnest(t[2:len(t)]) AS w2
        FROM toks WHERE len(t) >= 2),
      pair AS (SELECT w1, w2, COUNT(*) AS c12 FROM bb GROUP BY 1, 2),
      fst AS (SELECT w1, SUM(c12) AS c1 FROM pair GROUP BY 1),
      lm AS (SELECT p.w1, p.w2,
          ROUND(-ln(CAST(c12 AS DOUBLE) / c1), 6) AS s
        FROM pair p JOIN fst f ON p.w1 = f.w1)
      SELECT doc_id, COUNT(*) AS n_bigrams,
        CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
          AS avg_surprisal
      FROM bb JOIN lm USING (w1, w2)
      GROUP BY 1 ORDER BY doc_id"""))

  /** t-digest-style sketch surface: approx_percentile checked against the
    * exact interpolated percentile with a relative tolerance (the sketch's
    * accuracy contract), exact values hash-gated — same shape as the HLL
    * gate. */
  private val qApproxPercentile = QuerySpec(
    "q_approx_percentile",
    (s, dir) =>
      // array-form percentiles: ONE exact buffer and ONE sketch serve both
      // quantiles (vs four independent aggregate buffers); single-split
      // scans fan across cores for the compute-bound partials
      core.Graft.rebalanceForCompute(t(s, dir, "lineitem"))
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_extendedprice, array(0.5, 0.95))").as("pe"),
          expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)")
            .as("pa"))
        .select(col("l_returnflag"),
          round(element_at(col("pe"), 1), 6).as("p50_exact"),
          round(element_at(col("pe"), 2), 6).as("p95_exact"),
          (abs(element_at(col("pa"), 1) - element_at(col("pe"), 1)) /
            element_at(col("pe"), 1) <= 0.05).as("p50_ok"),
          (abs(element_at(col("pa"), 2) - element_at(col("pe"), 2)) /
            element_at(col("pe"), 2) <= 0.05).as("p95_ok"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
      ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
      ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95_exact,
      TRUE AS p50_ok, TRUE AS p95_ok
      FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** Bloom-filter semi-join — the sketch behind runtime row-group pruning
    * at scale: build a bloom over the urgent orders' keys, probe every
    * lineitem row, and verify the filter's contract (superset of the exact
    * semi-join, bounded false-positive rate). The exact match count is
    * hash-gated; the bloom's xxhash64 internals never leave the engine. */
  private val qBloomJoin = QuerySpec(
    "q_bloom_join",
    (s, dir) => {
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey")).distinct()
      // might_contain requires a CONSTANT bloom (Spark's own runtime filter
      // feeds it a scalar subquery): materialize the one-row sketch on the
      // driver (~50 KB) and embed it as a literal — the probe side then
      // stays a codegen'd scan with no join at all
      val bfBytes = urgent.agg(graft.plans.NativeFunctions.bloom_filter_agg(
        xxhash64(col("o_orderkey")), 50000L, 400000L).as("bf"))
        .first().getAs[Array[Byte]]("bf")
      val marked = t(s, dir, "lineitem").select(col("l_orderkey"))
        .withColumn("probed", graft.plans.NativeFunctions.might_contain(
          lit(bfBytes), xxhash64(col("l_orderkey"))))
        .join(broadcast(urgent),
          col("l_orderkey") === col("o_orderkey"), "left")
        .withColumn("exact", col("o_orderkey").isNotNull)
      marked.agg(
          count(when(col("exact"), 1)).as("n_exact"),
          count(when(col("exact") && !col("probed"), 1)).as("n_false_neg"),
          count(when(col("probed") && !col("exact"), 1)).as("n_fp"),
          count(when(!col("exact"), 1)).as("n_neg"))
        .select(col("n_exact"),
          (col("n_false_neg") === 0).as("no_false_neg"),
          (col("n_fp").cast("double") <=
            col("n_neg").cast("double") * 0.05).as("fp_rate_ok"))
    },
    Some("""SELECT CAST(COUNT(*) FILTER (WHERE l_orderkey IN
        (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'))
        AS BIGINT) AS n_exact,
      TRUE AS no_false_neg, TRUE AS fp_rate_ok
      FROM lineitem"""))

  /** Stream-static join, executed for real: the streaming events feed joins
    * a broadcast static dimension (the DistributedCache idiom in streaming
    * form), then aggregates per category — memory sink, AvailableNow. */
  private val qStreamStaticJoin = QuerySpec(
    "q_stream_static_join",
    (s, dir) => {
      val schema = "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"
      val streamDir = linkedSource(dir, "streamsrc", "events")
      val dim = {
        import s.implicits._
        Seq(
          ("click", "engagement"), ("view", "engagement"),
          ("purchase", "conversion"), ("signup", "conversion"),
          ("error", "ops")).toDF("event_type", "category")
      }
      val stream = s.readStream.schema(schema).parquet(streamDir.toString)
        .withColumn("value_dec", col("value").cast("decimal(18,6)"))
        .join(broadcast(dim), Seq("event_type"))
      val agg = stream.groupBy("category")
        .agg(count(lit(1)).as("cnt"), sum(col("value_dec")).as("sum_dec"))
      runToMemory(s, agg, "graft_stream_static", "complete")
        .select(col("category"), col("cnt"),
          col("sum_dec").cast("double").as("sum_value"))
        .orderBy("category")
    },
    Some("""SELECT CASE WHEN event_type IN ('click', 'view') THEN 'engagement'
        WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
        ELSE 'ops' END AS category, COUNT(*) AS cnt,
      CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY category"""))

  /** Stream-stream interval self-join, executed for real: clicks matched to
    * same-user purchases within the following hour. Both sides carry
    * watermarks (state-cleanup contract at scale); inner-join emission is
    * match-driven, so one AvailableNow pass over the feed yields exactly the
    * batch-join result — which the oracle computes. */
  private val qStreamStreamJoin = QuerySpec(
    "q_stream_stream_join",
    (s, dir) => {
      // one source, self-joined: the feed is scanned once per microbatch and
      // both sides branch off it (Structured Streaming supports stream
      // self-joins); two readStreams would track and scan the files twice
      val feed = eventsStream(s, dir)
      val clicks = feed.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("cu"),
          col("event_time").as("click_time"))
      val purchases = feed.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("pu"),
          col("event_time").as("purchase_time"))
      // effectively-infinite watermark passed EXPLICITLY: this gate replays a
      // bounded feed and wants the exhaustive batch-equal result; the
      // operator's own default ("1 hour") is the state-bounded contract
      val joined = graft.streaming.StreamOps.intervalJoin(
        clicks, "click_time", purchases, "purchase_time",
        expr("""cu = pu AND purchase_time >= click_time AND
                purchase_time <= click_time + interval 1 hour"""),
        watermark = "10000 days")
      // A stream-stream join keeps one state store per shuffle partition per
      // side; at this feed size the state machinery dominates, so pin the
      // query to few state partitions (saved/restored — the setting is baked
      // into the query at start, batch queries after restore are unaffected)
      val pairs = joined
        .select(col("click_id"), col("purchase_id"), col("cu").as("user_id"))
      runToMemory(s, pairs, "graft_stream_stream", "append")
        .orderBy("click_id", "purchase_id")
    },
    Some("""SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        c.user_id
      FROM events c JOIN events p ON c.user_id = p.user_id
        AND c.event_type = 'click' AND p.event_type = 'purchase'
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      ORDER BY click_id, purchase_id"""))

  /** SimHash near-dup pairs via bit-banding + the native codegen'd Hamming
    * expression ([[DedupOps.simhashNearDupPairs]]): recall-1.0 candidate
    * generation by pigeonhole (hamming <= 3 with 4 bands), oracle replays the
    * same banding over the SQL-computed signatures. */
  private val qSimhashPairs = QuerySpec(
    "q_simhash_pairs",
    (s, dir) =>
      DedupOps.simhashNearDupPairs(
          t(s, dir, "documents"), col("doc_id"), col("text"),
          maxHamming = 3, bands = 4)
        .orderBy("a", "b"),
    Some("""WITH words AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
          x -> x <> '')) AS w
        FROM documents),
      contrib AS (
        SELECT doc_id, p,
          SUM(CASE WHEN CAST(floor(
              (strpos('0123456789abcdef',
                      substr(md5(w), CAST(floor(p/4) AS INT) + 1, 1)) - 1)
              / pow(2, 3 - (p % 4))) AS BIGINT) % 2 = 1
            THEN 1 ELSE -1 END) AS sgn
        FROM words, range(64) r(p) GROUP BY doc_id, p),
      sigs AS (
        SELECT doc_id,
          string_agg(CASE WHEN sgn > 0 THEN '1' ELSE '0' END, '' ORDER BY p)
            AS simhash
        FROM contrib GROUP BY doc_id),
      banded AS (
        SELECT doc_id, simhash,
          CAST(b AS VARCHAR) || '|' || substr(simhash, b*16 + 1, 16) AS bk
        FROM sigs, range(4) r(b)),
      cand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
          x.simhash AS sa, y.simhash AS sb
        FROM banded x JOIN banded y ON x.bk = y.bk AND x.doc_id < y.doc_id)
      SELECT a, b, hamming FROM (
        SELECT a, b, CAST(len(list_filter(generate_series(1, 64),
          i -> substr(sa, i, 1) <> substr(sb, i, 1))) AS INTEGER) AS hamming
        FROM cand) v
      WHERE hamming <= 3 ORDER BY a, b"""))

  /** One Lloyd iteration of cosine k-means ([[SimilarityOps.kmeansStep]]):
    * assignment to the 10 lowest-id seed centroids, then per-position member
    * means — the IVF-quantizer training step, fully oracle-checked. */
  private val qKmeansStep = QuerySpec(
    "q_kmeans_step",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.kmeansStep(emb, emb.filter(col("vec_id") < 10))
        .orderBy("cid", "pos")
    },
    Some("""WITH c0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
        FROM embeddings WHERE vec_id < 10),
      v AS (SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS dvec
        FROM embeddings),
      scored AS (
        SELECT v.vec_id, c0.cid,
          ROUND(list_dot_product(dvec, cvec) /
            (sqrt(list_dot_product(dvec, dvec)) *
             sqrt(list_dot_product(cvec, cvec))), 6) AS sim
        FROM v, c0),
      assigned AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
          FROM scored) t
        WHERE rn = 1),
      exploded AS (
        SELECT a.cid, unnest(e.embedding) AS x,
          CAST(unnest(generate_series(1, len(e.embedding))) AS BIGINT) AS pos
        FROM assigned a JOIN embeddings e USING (vec_id))
      SELECT cid, pos,
        CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,6))) AS DOUBLE)
          / COUNT(x) AS centroid
      FROM exploded GROUP BY cid, pos ORDER BY cid, pos"""))

  /** The composed training-data quality pipeline as one gate: per document a
    * keep/drop decision with the first failing rule as reason — length floor,
    * language ID, repetition ceiling. This is the operator a corpus curation
    * job actually runs; every signal reuses an already-gated primitive. */
  private val qCorpusFilter = QuerySpec(
    "q_corpus_filter",
    (s, dir) => {
      val docs = core.Graft.rebalanceForCompute(t(s, dir, "documents"))
      val rep = MapOps.repetitionStats(docs, col("doc_id"), col("text"), n = 3)
        .select(col("doc_id"), col("rep_ratio"))
      docs.select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextFunctions.langIdHeuristic(col("text")).as("lang"))
        .join(rep, Seq("doc_id"), "left")
        .withColumn("rep_ratio", coalesce(col("rep_ratio"), lit(0.0)))
        .withColumn("reason",
          when(col("n_tokens") < 20, "too_short")
            .when(col("lang") === "unk", "lang")
            .when(col("rep_ratio") > 0.06, "too_repetitive")
            .otherwise("ok"))
        .select(col("doc_id"), col("n_tokens"), col("rep_ratio"),
          col("reason"), (col("reason") === "ok").as("keep"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents),
      tri AS (SELECT doc_id, unnest(list_transform(
            generate_series(1, len(t) - 2),
            i -> array_to_string(t[i:i+2], ' '))) AS g
        FROM toks WHERE len(t) >= 3),
      cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM tri GROUP BY 1, 2),
      rep AS (SELECT doc_id,
          ROUND(CAST(max(c) AS DOUBLE) / sum(c), 6) AS rep_ratio
        FROM cnt GROUP BY 1),
      sig AS (
        SELECT doc_id, len(t) AS n_tokens,
          CASE WHEN (CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t,
            x -> list_contains(['the','a','of','and','to','in','is'], x)))
            AS DOUBLE) / CAST(len(t) AS DOUBLE) ELSE 0.0 END) > 0.02
            THEN 'en' ELSE 'unk' END AS lang
        FROM toks)
      SELECT s.doc_id, s.n_tokens, COALESCE(r.rep_ratio, 0.0) AS rep_ratio,
        CASE WHEN s.n_tokens < 20 THEN 'too_short'
          WHEN s.lang = 'unk' THEN 'lang'
          WHEN COALESCE(r.rep_ratio, 0.0) > 0.06 THEN 'too_repetitive'
          ELSE 'ok' END AS reason,
        (CASE WHEN s.n_tokens < 20 THEN 'too_short'
          WHEN s.lang = 'unk' THEN 'lang'
          WHEN COALESCE(r.rep_ratio, 0.0) > 0.06 THEN 'too_repetitive'
          ELSE 'ok' END) = 'ok' AS keep
      FROM sig s LEFT JOIN rep r ON s.doc_id = r.doc_id
      ORDER BY s.doc_id"""))

  /** MapFileOutputFormat.getEntry parity: point lookup against a sorted
    * bucketed table — bucket pruning plays the reference's index file
    * (only the key's bucket is scanned), bucket-local sort its ordering. */
  private val qBucketLookup = QuerySpec(
    "q_bucket_lookup",
    (s, dir) => {
      val sf = new java.io.File(dir).getName.replace('.', '_')
      val tbl = s"ord_lookup_$sf"
      // building the bucketed table is fixture (the sink gates measure
      // writes); the measured operator is the bucket-pruned point lookup
      val path = Graft.scratch(dir, "lookup")
      fixtureOnce(path) {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
          .repartition(8, col("o_orderkey"))
          .write.mode("overwrite")
          .option("path", path)
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable(tbl)
      }
      s.table(tbl)
        .filter(col("o_orderkey") === 100L)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderkey = 100 ORDER BY o_orderkey"""))

  /** The full IVF-quantizer training loop composed end-to-end: seed
    * centroids -> one Lloyd refinement ([[SimilarityOps.kmeansStep]]) ->
    * re-assembled centroid vectors -> re-assignment of the corpus -> bucket
    * occupancy. This is exactly how [[SimilarityOps.ivfTopK]]'s coarse
    * quantizer gets trained; bucket sizes are the observable the IVF
    * operator cares about (balanced buckets = balanced probe cost).
    *
    * Perf note (r7 finding #4, root-caused r8): the broadcast-argmin
    * kernel needs the refined centroids DRIVER-SIDE, so the gate runs as
    * three sequential jobs (seed collect, refined-centroid collect, final
    * assignment) instead of r5's single lazy crossJoin plan — ~0.8 s of
    * fixed per-job overhead at sf0.1, which is the whole solo regression
    * (0.46 s -> ~1.3 s). ACCEPTED tradeoff: the lazy crossJoin hash-
    * exchanges corpus x nlist rows, which is the anti-pattern that
    * cannot survive 100 TB x nlist=4096, while the kernel never shuffles
    * the corpus — BENCH_SCALE shows factor 1.08 at 10x data, i.e. the
    * regression is constant, not asymptotic. */
  private val qIvfRefined = QuerySpec(
    "q_ivf_refined",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val refined = SimilarityOps.kmeansStep(emb, emb.filter(col("vec_id") < 10))
      val cvecs = refined.groupBy("cid")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("centroid")))),
          x => x.getField("centroid")).as("cvec"))
      // re-assignment through the broadcast argmin kernel: the corpus
      // never shuffles (the crossJoin+window form would hash-exchange
      // corpus×nlist rows — the exact anti-pattern the kernel kills)
      SimilarityOps.assignToNearest(emb.select("vec_id", "embedding"), cvecs)
        .groupBy("cid")
        .agg(count(lit(1)).as("n_members"))
        .orderBy("cid")
    },
    Some("""WITH c0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
        FROM embeddings WHERE vec_id < 10),
      v AS (SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS dvec
        FROM embeddings),
      scored AS (
        SELECT v.vec_id, c0.cid,
          ROUND(list_dot_product(dvec, cvec) /
            (sqrt(list_dot_product(dvec, dvec)) *
             sqrt(list_dot_product(cvec, cvec))), 6) AS sim
        FROM v, c0),
      assigned AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
          FROM scored) t
        WHERE rn = 1),
      exploded AS (
        SELECT a.cid, unnest(e.embedding) AS x,
          CAST(unnest(generate_series(1, len(e.embedding))) AS BIGINT) AS pos
        FROM assigned a JOIN embeddings e USING (vec_id)),
      refined AS (
        SELECT cid, pos,
          CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,6))) AS DOUBLE)
            / COUNT(x) AS centroid
        FROM exploded GROUP BY cid, pos),
      cvecs AS (
        SELECT cid, list(centroid ORDER BY pos) AS cvec2 FROM refined
        GROUP BY cid),
      rescored AS (
        SELECT v.vec_id, c.cid,
          ROUND(list_dot_product(dvec, cvec2) /
            (sqrt(list_dot_product(dvec, dvec)) *
             sqrt(list_dot_product(cvec2, cvec2))), 6) AS sim
        FROM v, cvecs c),
      reassigned AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
          FROM rescored) t
        WHERE rn = 1)
      SELECT cid, COUNT(*) AS n_members FROM reassigned
      GROUP BY cid ORDER BY cid"""))

  /** Sliding event-time windows (1h window, 30min slide — each event lands
    * in exactly two windows): the overlap variant of the tumbling gate,
    * grid-aligned identically in both engines. */
  private val qSlidingWindow = QuerySpec(
    "q_sliding_window",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sumExact(col("value")).as("sum_value"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:00").as("win_start"),
          col("event_type"), col("cnt"), col("sum_value"))
        .orderBy("win_start", "event_type"),
    Some("""SELECT strftime(time_bucket(INTERVAL '30 minutes', ts)
          - k * INTERVAL '30 minutes', '%Y-%m-%d %H:%M:00') AS win_start,
        event_type, COUNT(*) AS cnt,
        CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
      GROUP BY 1, 2 ORDER BY win_start, event_type"""))

  /** Exact interpolated percentiles (WordMedian's exact path, SURVEY §2.6 —
    * beyond the approx sketch): Spark `percentile` and SQL quantile_cont
    * share the rank = p·(n−1) linear-interpolation definition, so the raw
    * doubles are bit-identical — no rounding applied or needed. */
  private val qPercentileExact = QuerySpec(
    "q_percentile_exact",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          expr("percentile(value, 0.25)").as("p25"),
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"),
          count(lit(1)).as("cnt"))
        .orderBy("event_type"),
    Some("""SELECT event_type,
        quantile_cont(value, 0.25) AS p25,
        quantile_cont(value, 0.5) AS p50,
        quantile_cont(value, 0.9) AS p90,
        COUNT(*) AS cnt
      FROM events GROUP BY 1 ORDER BY event_type"""))

  /** JSON-lines round-trip through the source/sink facade: schema-on-read
    * over the written tree, content proven unchanged. */
  private val qJsonRoundtrip = QuerySpec(
    "q_json_roundtrip",
    (s, dir) => {
      val out = Graft.scratch(dir, "json")
      Graft.sink(t(s, dir, "events").select("event_id", "event_type", "value"),
        out, format = "json")
      Graft.source(s, out, format = "json",
          options = Map("primitivesAsString" -> "false"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sumExact(col("value")).as("sum_value"),
          max(col("event_id")).as("max_id"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, COUNT(*) AS cnt,
      CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value,
      MAX(event_id) AS max_id
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** DistCp -update parity end-to-end ([[sources.Compact.sync]]): first sync
    * copies every file, an immediate re-sync copies none (size-match skip),
    * and the synced copy is row-identical to the source table. */
  private val qDistcpSync = QuerySpec(
    "q_distcp_sync",
    (s, dir) => {
      import s.implicits._
      val src = Graft.scratch(dir, "sync_src")
      val dst = Graft.scratch(dir, "sync_dst")
      // fresh dst each run so the copied/skipped counts are deterministic
      val fs = new org.apache.hadoop.fs.Path(dst)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dst), true)
      // writing the sync SOURCE is fixture; the measured operator is the
      // copy/skip sync pair against a fresh destination
      fixtureOnce(src) {
        t(s, dir, "events").select("event_id", "value")
          .repartition(4).write.mode("overwrite").parquet(src)
      }
      val (copied1, skipped1) = sources.Compact.sync(s, src, dst)
      val (copied2, skipped2) = sources.Compact.sync(s, src, dst)
      val nRows = s.read.parquet(dst)
        // _SUCCESS/_committed markers are zero-length and skipped by size
        .count()
      Seq((copied1, skipped1, copied2, skipped2, nRows))
        .toDF("copied_first", "skipped_first", "copied_second",
          "skipped_second", "n_rows")
    },
    Some("""SELECT CAST(5 AS BIGINT) AS copied_first,
      CAST(0 AS BIGINT) AS skipped_first,
      CAST(0 AS BIGINT) AS copied_second,
      CAST(5 AS BIGINT) AS skipped_second,
      COUNT(*) AS n_rows FROM events"""))

  /** DistCp -diff + -atomic parity ([[sources.Compact.syncDiff]] /
    * [[sources.Compact.syncAtomic]], VERDICT r15 item 6): the changed-set
    * sync applies only the diff between a recorded from-snapshot and the
    * live source listing — created/modified copy, deleted delete,
    * untouched files never touched at the target (REQUIREd by mtime) —
    * with the reference's preSyncCheck fallback: a target that drifted
    * from the from-snapshot routes to the full -update compare. The
    * atomic arm stages the whole tree and publishes it with ONE rename,
    * refusing an existing target. Hash row: the operation counters plus
    * both targets' total line counts. */
  private val qDistcpDiff = QuerySpec(
    "q_distcp_diff",
    (s, dir) => {
      import s.implicits._
      val root = Graft.scratch(dir, "diffsync")
      val hfs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      hfs.delete(new org.apache.hadoop.fs.Path(root), true)
      val src = s"$root/src"
      val dst = s"$root/dst"
      val snap = s"$root/snap.lst"
      def put(name: String, n: Int): Unit = {
        val out = hfs.create(
          new org.apache.hadoop.fs.Path(s"$src/$name"), true)
        try out.write(((0 until n).map(i => s"$name:$i")
          .mkString("\n") + "\n").getBytes("UTF-8"))
        finally out.close()
      }
      put("a.txt", 10); put("b.txt", 10); put("c.txt", 10); put("d.txt", 10)
      // baseline -update sync, then the from-snapshot
      sources.Compact.sync(s, src, dst)
      sources.Compact.snapshot(s, src, snap)
      // mutate the source: modify b, create e, delete c
      put("b.txt", 15); put("e.txt", 10)
      hfs.delete(new org.apache.hadoop.fs.Path(s"$src/c.txt"), false)
      val aP = new org.apache.hadoop.fs.Path(s"$dst/a.txt")
      val aMtimeBefore = hfs.getFileStatus(aP).getModificationTime
      val (c1, d1, k1, fb1) = sources.Compact.syncDiff(s, src, dst, snap)
      require(!fb1, "a clean target must take the diff path, not fallback")
      require(c1 == 2 && d1 == 1 && k1 == 2,
        s"diff counts copied/deleted/skipped: $c1/$d1/$k1")
      require(hfs.getFileStatus(aP).getModificationTime == aMtimeBefore,
        "-diff must never copy (or even rewrite) an untouched file")
      require(!hfs.exists(new org.apache.hadoop.fs.Path(s"$dst/c.txt")),
        "-diff must propagate the deletion")
      // replaying the STALE snapshot over the now-applied target is
      // drift (preSyncCheck fails at the touched names) -> full-compare
      // fallback, which finds nothing left to copy
      val (c2, _, _, fb2) = sources.Compact.syncDiff(s, src, dst, snap)
      require(fb2, "a drifted target must fall back to the full compare")
      require(c2 == 0, s"fallback over an applied target copied $c2")
      // -atomic: stage + one publishing rename, create-only
      val dst2 = s"$root/atomic"
      val cA = sources.Compact.syncAtomic(s, src, dst2)
      val refused =
        try { sources.Compact.syncAtomic(s, src, dst2); false }
        catch { case _: IllegalArgumentException => true }
      require(refused, "-atomic must refuse an existing target")
      require(!hfs.listStatus(new org.apache.hadoop.fs.Path(root))
        .exists(_.getPath.getName.contains("__staging")),
        "no staging dir may survive the atomic publish")
      val nDst = s.read.textFile(dst).count()
      val nAtomic = s.read.textFile(dst2).count()
      Seq((c1, d1, k1, c2, cA, nDst, nAtomic)).toDF(
        "copied_diff", "deleted_diff", "skipped_diff", "copied_fallback",
        "copied_atomic", "n_lines_dst", "n_lines_atomic")
    },
    Some("""SELECT CAST(2 AS BIGINT) AS copied_diff,
      CAST(1 AS BIGINT) AS deleted_diff,
      CAST(2 AS BIGINT) AS skipped_diff,
      CAST(0 AS BIGINT) AS copied_fallback,
      CAST(4 AS BIGINT) AS copied_atomic,
      CAST(45 AS BIGINT) AS n_lines_dst,
      CAST(45 AS BIGINT) AS n_lines_atomic"""))

  // ----------------------------------------------------------------- export

  /** Read through a registered non-`file:` FileSystem scheme
    * ([[graft.sources.GraftFileSystem]]) — proves the reader stack is not
    * local-path-only: URI dispatch, scheme-keyed FS cache, listing, and
    * parquet reads all go through the `fs.<scheme>.impl` machinery that
    * cloud connectors (reference: hadoop-tools/hadoop-aws
    * .../s3a/S3AFileSystem.java:261) plug into. */
  private val qFsScheme = QuerySpec(
    "q_fs_scheme",
    (s, dir) => {
      graft.sources.GraftFileSystem.register(s)
      s.read.parquet(graft.sources.GraftFileSystem.uri(s"$dir/nation.parquet"))
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy("n_nationkey")
    },
    Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY 1"))

  /** Provided-storage external table (fs2img parity, reference:
    * hadoop-tools/hadoop-fs2img .../ImageWriter.java — mount pre-existing
    * data into the namespace without copying): `CREATE TABLE ... LOCATION`
    * over the non-local [[graft.sources.GraftFileSystem]] scheme, queried
    * through the catalog. The data never moves; the catalog entry points at
    * the provided store — the same contract as PROVIDED block storage. */
  private val qExternalTable = QuerySpec(
    "q_external_table",
    (s, dir) => {
      graft.sources.GraftFileSystem.register(s)
      // catalog DDL is fixture: the measured operator is the read through
      // the provided-storage location (one registration per dataset). The
      // table NAME is per-dataset too — a global name served whichever
      // dir registered first when a process touches several datasets
      // (ADVICE r12), so the catalog entry and the memo key coincide.
      val tbl = "graft_ext_supplier_" + java.security.MessageDigest
        .getInstance("MD5")
        .digest(new java.io.File(dir).getCanonicalPath
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map("%02x".format(_)).mkString
      fixtureOnce(s"external_table|$tbl") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING parquet LOCATION '" +
          graft.sources.GraftFileSystem.uri(s"$dir/supplier.parquet") + "'")
      }
      s.table(tbl)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"), min(col("s_name")).as("first_name"))
        .orderBy("s_nationkey")
    },
    Some("""SELECT s_nationkey, COUNT(*) AS n_suppliers,
      MIN(s_name) AS first_name FROM supplier GROUP BY 1 ORDER BY 1"""))

  /** Corpus mixing ([[SortOps.weightedHashSample]]): per-source mixture
    * rates live in a control table (here derived from the source name so
    * the oracle can replay them), arrive by broadcast join, and each row
    * survives iff its portable md5 bucket falls under its source's rate —
    * deterministic data mixing, the weighted twin of stratified sampling. */
  private val qCorpusMix = QuerySpec(
    "q_corpus_mix",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val rates = docs.select(col("source")).distinct()
        .withColumn("rate",
          (pmod(length(col("source")), lit(3)) + 1).cast("double") / 4.0)
      SortOps.weightedHashSample(
          docs.join(broadcast(rates), Seq("source")),
          col("doc_id"), col("rate"))
        .groupBy("source")
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("min_id"))
        .orderBy("source")
    },
    Some("""WITH rates AS (SELECT DISTINCT source,
        CAST(length(source) % 3 + 1 AS DOUBLE) / 4 AS rate FROM documents),
      kept AS (SELECT d.doc_id, d.source
        FROM documents d JOIN rates r USING (source)
        WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
            AS BIGINT) % 10000
          < CAST(FLOOR(r.rate * 10000) AS BIGINT))
      SELECT source, COUNT(*) AS cnt, MIN(doc_id) AS min_id
      FROM kept GROUP BY 1 ORDER BY 1"""))

  /** C4-style line-level cleaning ([[CorpusOps.c4LineClean]] — the
    * T5 paper's web-text filter): documents are reshaped into a
    * deterministic line structure (8-word lines; suffix cycles
    * terminal `.` / `?` / no-terminal / a "javascript." tell by
    * `(doc_id + line) % 4`; every 17th doc gains a `{` line, every
    * 23rd a "lorem ipsum" line) so every rule has live targets, then
    * the cleaner runs. The oracle rebuilds the SAME structure with
    * DuckDB list functions and replays every regex-free predicate —
    * the full cleaned text of every retained page is hash-pinned, so
    * one mis-kept or mis-dropped line anywhere mismatches. */
  private val qC4Clean = QuerySpec(
    "q_c4_clean",
    (s, dir) => {
      val doc = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("_w", split(col("text"), " "))
      val suffixes =
        array(lit("."), lit("?"), lit(""), lit(" javascript."))
      val structured = doc.select(col("doc_id"), concat(
        array_join(transform(
          sequence(lit(0), floor((size(col("_w")) - 1) / 8).cast("int")),
          i => concat(
            array_join(slice(col("_w"), i * 8 + 1, lit(8)), " "),
            element_at(suffixes,
              ((col("doc_id") + i) % 4 + 1).cast("int")))), "\n"),
        when(col("doc_id") % 17 === 0, "\nconfig {").otherwise(""),
        when(col("doc_id") % 23 === 0, "\nlorem ipsum dolor.").otherwise("")
      ).as("text"))
      CorpusOps.c4LineClean(structured, col("doc_id"), col("text"),
          minWords = 3, minLines = 3)
        .orderBy("id")
    },
    Some("""WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), lined AS (
        SELECT doc_id,
          array_to_string(list_transform(
            range(0, CAST(floor((len(w) - 1) / 8) AS BIGINT) + 1),
            i -> array_to_string(w[i*8+1 : i*8+8], ' ') ||
              CASE (doc_id + i) % 4 WHEN 0 THEN '.' WHEN 1 THEN '?'
                   WHEN 2 THEN '' ELSE ' javascript.' END), chr(10)) ||
          CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'config {'
               ELSE '' END ||
          CASE WHEN doc_id % 23 = 0 THEN chr(10) || 'lorem ipsum dolor.'
               ELSE '' END AS text
        FROM base
      ), cleaned AS (
        SELECT doc_id,
          list_filter(string_split(text, chr(10)), l ->
            substr(l, length(l), 1) IN ('.', '!', '?', '"')
            AND len(list_filter(string_split(l, ' '), x -> x <> '')) >= 3
            AND NOT contains(lower(l), 'javascript')) AS kept,
          NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{') AS ok
        FROM lined
      )
      SELECT doc_id AS id, CAST(len(kept) AS BIGINT) AS n_lines,
        array_to_string(kept, chr(10)) AS clean_text
      FROM cleaned WHERE ok AND len(kept) >= 3 ORDER BY id"""))

  /** Count-min sketch heavy hitters ([[StatsOps.cmsBuild]] /
    * [[StatsOps.cmsEstimate]]): the corpus token stream folds into a
    * 3×256 counter grid, and the 20 most frequent tokens are point-
    * queried against it. The md5-positioned counters are DETERMINISTIC,
    * so the oracle rebuilds the ENTIRE grid in SQL and replays each
    * estimate — the gate hash-checks exact counter values, not just the
    * ε-bound; the CMS guarantee (estimate ≥ truth) is REQUIREd row by
    * row besides. */
  private val qCmsTokens = QuerySpec(
    "q_cms_tokens",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val sketch = StatsOps.cmsBuild(toks, col("tok"),
        depth = 3, width = 256).localCheckpoint()
      val top = toks.groupBy("tok").agg(count(lit(1)).as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("tok")).limit(20)
        .localCheckpoint()
      val est = StatsOps.cmsEstimate(sketch, top, col("tok"),
        depth = 3, width = 256)
      val out = top.join(est, col("tok") === col("key"))
        .select(col("tok"), col("true_cnt"), col("est"))
        .localCheckpoint()
      require(out.filter(col("est") < col("true_cnt")).isEmpty,
        "count-min NEVER underestimates — an undershoot is a broken grid")
      out.orderBy("tok")
    },
    Some("""WITH toks AS (
        SELECT t FROM (SELECT unnest(string_split(text, ' ')) AS t
                       FROM documents) WHERE t <> ''
      ), grid AS (SELECT r FROM range(3) g(r)
      ), counters AS (
        SELECT r, CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || t),
            1, 8) AS BIGINT) % 256 AS pos, COUNT(*) AS cnt
        FROM toks CROSS JOIN grid GROUP BY 1, 2
      ), top AS (
        SELECT t AS tok, COUNT(*) AS true_cnt FROM toks GROUP BY 1
        ORDER BY 2 DESC, 1 LIMIT 20
      ), est AS (
        SELECT top.tok, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est
        FROM top CROSS JOIN grid g
        LEFT JOIN counters c ON c.r = g.r AND c.pos =
          CAST('0x' || substr(md5(CAST(g.r AS VARCHAR) || '|' || top.tok),
            1, 8) AS BIGINT) % 256
        GROUP BY 1
      )
      SELECT top.tok, CAST(top.true_cnt AS BIGINT) AS true_cnt, est.est
      FROM top JOIN est USING (tok) ORDER BY tok"""))

  /** Sketch MAINTENANCE through a merge-on-read window: a count-min
    * sketch of the corpus token stream is materialized at version 2,
    * then a deletion-vector DELETE retires every fifth document with
    * ZERO file churn — and the sketch refreshes by folding the
    * [[graft.sources.TxLog.readChanges]] feed with `weight = sign`
    * ([[StatsOps.cmsBuild]]'s linearity). The gate REQUIRES the
    * maintained grid EQUALS the from-scratch grid of the post-delete
    * table counter for counter (both directions of `except`), then
    * emits estimates for the post-table's top tokens; the oracle
    * rebuilds the same counters over the kept documents. Retraction
    * flowing through a sublinear summary exactly is the property that
    * lets a 100 TB profile stay warm under GDPR deletes instead of
    * re-scanning the corpus. */
  private val qTxlogCmsIvm = QuerySpec(
    "q_txlog_cms_ivm",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_cms")
      TxLog.destroy(root)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val b = TextFunctions.portableBucket(col("doc_id"), 2)
      TxLog.commit(root,
        Seq(TxLog.writeBatch(docs.filter(b === 0), root, "b0")))
      TxLog.commit(root,
        Seq(TxLog.writeBatch(docs.filter(b === 1), root, "b1")))
      def tokensOf(df: DataFrame) = df
        .select(col("sign"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val base = StatsOps.cmsBuild(
        tokensOf(TxLog.read(s, root).withColumn("sign", lit(1))),
        col("tok"), depth = 3, width = 256, weight = col("sign"))
        .localCheckpoint()
      require(TxLog.deleteWhereDV(s, root, "dv",
        col("doc_id") % 5 === 0) == 3, "DV delete lands as version 3")
      require(TxLog.changedFiles(root, 2, 3)._2.isEmpty,
        "merge-on-read: the sketch refresh must not get a file diff")
      val feed = TxLog.readChanges(s, root, 2, 3)
        .getOrElse(sys.error("the delete changed rows; feed must exist"))
      val delta = StatsOps.cmsBuild(tokensOf(feed), col("tok"),
        depth = 3, width = 256, weight = col("sign"))
      val maintained = StatsOps.cmsMerge(base, delta).localCheckpoint()
      val scratch = StatsOps.cmsBuild(
        tokensOf(TxLog.read(s, root).withColumn("sign", lit(1))),
        col("tok"), depth = 3, width = 256, weight = col("sign"))
        .localCheckpoint()
      require(maintained.exceptAll(scratch).isEmpty &&
        scratch.exceptAll(maintained).isEmpty,
        "signed fold must reproduce the from-scratch grid EXACTLY")
      val top = tokensOf(TxLog.read(s, root).withColumn("sign", lit(1)))
        .groupBy("tok").agg(count(lit(1)).as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("tok")).limit(10)
        .localCheckpoint()
      StatsOps.cmsEstimate(maintained, top, col("tok"),
          depth = 3, width = 256)
        .join(top, col("key") === col("tok"))
        .select(col("tok"), col("true_cnt"), col("est"))
        .orderBy("tok")
    },
    Some("""WITH kept AS (
        SELECT text FROM documents WHERE doc_id % 5 <> 0
      ), toks AS (
        SELECT t FROM (SELECT unnest(string_split(text, ' ')) AS t
                       FROM kept) WHERE t <> ''
      ), grid AS (SELECT r FROM range(3) g(r)
      ), counters AS (
        SELECT r, CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || t),
            1, 8) AS BIGINT) % 256 AS pos, COUNT(*) AS cnt
        FROM toks CROSS JOIN grid GROUP BY 1, 2
      ), top AS (
        SELECT t AS tok, COUNT(*) AS true_cnt FROM toks GROUP BY 1
        ORDER BY 2 DESC, 1 LIMIT 10
      ), est AS (
        SELECT top.tok, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est
        FROM top CROSS JOIN grid g
        LEFT JOIN counters c ON c.r = g.r AND c.pos =
          CAST('0x' || substr(md5(CAST(g.r AS VARCHAR) || '|' || top.tok),
            1, 8) AS BIGINT) % 256
        GROUP BY 1
      )
      SELECT top.tok, CAST(top.true_cnt AS BIGINT) AS true_cnt, est.est
      FROM top JOIN est USING (tok) ORDER BY tok"""))

  /** Gopher-rule quality signals ([[CorpusOps.gopherSignals]], Rae et
    * al. 2021 defaults): word-count bounds, mean word length, alpha
    * fraction, distinct-stopword floor, top-bigram repetition cap —
    * every document emitted with all five signals AND the composite
    * keep decision, each replayed by the oracle, so a drift in any one
    * rule hash-mismatches. */
  private val qGopherQuality = QuerySpec(
    "q_gopher_quality",
    (s, dir) =>
      CorpusOps.gopherSignals(t(s, dir, "documents"), col("doc_id"),
          col("text"))
        .orderBy("id"),
    Some("""WITH toks AS (SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents),
      g AS (SELECT doc_id, unnest(list_transform(
            generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])) AS gr
        FROM toks WHERE len(t) >= 2),
      cnt AS (SELECT doc_id, gr, COUNT(*) AS c FROM g GROUP BY 1, 2),
      rep AS (SELECT doc_id,
          ROUND(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top2
        FROM cnt GROUP BY 1),
      sig AS (SELECT doc_id, len(t) AS n_words,
          CASE WHEN len(t) > 0 THEN ROUND(CAST(list_sum(list_transform(t,
            x -> length(x))) AS DOUBLE) / len(t), 6) ELSE 0.0 END AS mlen,
          CASE WHEN len(t) > 0 THEN ROUND(CAST(len(list_filter(t,
            x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(t), 6)
            ELSE 0.0 END AS alpha,
          len(list_intersect(list_distinct(t),
            ['the', 'a', 'of', 'and', 'to', 'in', 'is'])) AS stops
        FROM toks)
      SELECT s.doc_id AS id, CAST(s.n_words AS BIGINT) AS n_words,
        s.mlen AS mean_word_len, s.alpha AS alpha_frac,
        CAST(s.stops AS BIGINT) AS n_stop_kinds,
        COALESCE(r.top2, 0.0) AS top2_ratio,
        (s.n_words BETWEEN 50 AND 100000
          AND s.mlen BETWEEN 3.0 AND 10.0 AND s.alpha >= 0.8
          AND s.stops >= 2 AND COALESCE(r.top2, 0.0) <= 0.2) AS kept
      FROM sig s LEFT JOIN rep r ON s.doc_id = r.doc_id
      ORDER BY id"""))

  /** Temperature mixture sampling ([[CorpusOps.temperatureMix]],
    * α = 0.5, target 50%): keep rates derived from the corpus's own
    * per-language counts by the n^α rule — the dominant language
    * downsamples hardest, rare languages keep (near-)full rate. The
    * oracle replays the integer-quantized weight fold and the exact
    * hash gate, so the kept SET (not just its size) matches. */
  private val qTemperatureMix = QuerySpec(
    "q_temperature_mix",
    (s, dir) =>
      CorpusOps.temperatureMix(t(s, dir, "documents"), col("lang"),
          col("doc_id"), alpha = 0.5, targetFraction = 0.5)
        .groupBy(col("lang"), col("rate_e6"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("min_id"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy("lang"),
    Some("""WITH c AS (SELECT lang AS g, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY 1),
      sc AS (SELECT g, n,
          CAST(FLOOR(sqrt(n) * 1000000.0) AS BIGINT) AS s FROM c),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS cn,
          CAST(SUM(s) AS BIGINT) AS cw FROM sc),
      r AS (SELECT g,
          LEAST(1.0, 0.5 * cn * s / (CAST(cw AS DOUBLE) * n)) AS rate
        FROM sc CROSS JOIN tot),
      kept AS (SELECT d.lang, d.doc_id, d.n_chars,
          CAST(FLOOR(r.rate * 1000000.0) AS BIGINT) AS rate_e6
        FROM documents d JOIN r ON d.lang = r.g
        WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
            AS BIGINT) % 1000000 < FLOOR(r.rate * 1000000.0))
      SELECT lang, rate_e6, CAST(COUNT(*) AS BIGINT) AS cnt,
        MIN(doc_id) AS min_id, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM kept GROUP BY 1, 2 ORDER BY 1"""))

  /** GPT-style sequence packing ([[CorpusOps.packSequences]]): documents
    * concatenated in deterministic hash order and split into back-to-back
    * 512-token examples (documents straddle boundaries). The oracle replays
    * the global prefix sum with a window; the engine computes it with the
    * two-level range-partition formulation that survives 100 TB. */
  private val qPackSequences = QuerySpec(
    "q_pack_sequences",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n_tok"))
      CorpusOps.packSequences(docs, col("doc_id"), col("n_tok"), 512)
        .select(col("doc_id"), col("n_tokens"), col("start_offset"),
          col("first_example"), col("last_example"), col("straddles"))
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id,
        CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
          AS BIGINT) AS n_tokens,
        md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
      c AS (SELECT doc_id, n_tokens,
        CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM d WHERE n_tokens > 0)
      SELECT doc_id, n_tokens, cum - n_tokens AS start_offset,
        (cum - n_tokens) // 512 AS first_example,
        (cum - 1) // 512 AS last_example,
        (cum - n_tokens) // 512 <> (cum - 1) // 512 AS straddles
      FROM c ORDER BY doc_id"""))

  /** Token-budget selection ([[CorpusOps.tokenBudgetSelect]]): keep the
    * best documents (quality = n_chars here) while the running token total
    * stays within budget — the greedy "best N tokens" curation rule, exact
    * and engine-stable. */
  private val qTokenBudget = QuerySpec(
    "q_token_budget",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n_tok"))
      CorpusOps.tokenBudgetSelect(docs, col("doc_id"), col("n_chars"),
          col("n_tok"), budget = 5000L)
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, n_chars,
        CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
          AS BIGINT) AS n_tokens,
        md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
      c AS (SELECT doc_id, n_tokens,
        CAST(SUM(n_tokens) OVER (ORDER BY n_chars DESC, h, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM d)
      SELECT doc_id, n_tokens, cum_tokens FROM c
      WHERE cum_tokens <= 5000 ORDER BY doc_id"""))

  /** Z-order clustering ([[graft.functions.ZOrder]]): the Morton value of
    * (o_custkey, o_orderkey) computed through the clustered plan — the
    * engine's z-value must bit-for-bit match the oracle's rendering of the
    * same interleave ([[graft.functions.ZOrder.zValueSql]] keeps the two
    * from drifting). The data-skipping benefit is plan-asserted in
    * RoundFourOpsSpec. */
  private val qZorder = QuerySpec(
    "q_zorder",
    (s, dir) => {
      val clustered = graft.functions.ZOrder.cluster(
        t(s, dir, "orders"), col("o_custkey"), col("o_orderkey"),
        bits = 10, n = 8)
      clustered.select(col("o_orderkey"),
          graft.functions.ZOrder.zValue(
            col("o_custkey"), col("o_orderkey"), 10).as("zv"))
        .orderBy("o_orderkey")
    },
    Some(s"""SELECT o_orderkey,
      ${graft.functions.ZOrder.zValueSql("o_custkey", "o_orderkey", 10)} AS zv
      FROM orders ORDER BY o_orderkey"""))

  /** Partition-pruned read: events written partitionBy(event_type), read
    * back with a partition-column filter. `pruned_only` is engine-side
    * evidence (via input_file_name) that ONLY the matching partition
    * directory was scanned — pruning made hash-checkable, not just
    * plan-eyeballed. */
  private val qPartitionPrune = QuerySpec(
    "q_partition_prune",
    (s, dir) => {
      val out = Graft.scratch(dir, "prune")
      Graft.sink(t(s, dir, "events").select("event_id", "event_type", "value"),
        out, partitionBy = Seq("event_type"))
      Graft.source(s, out)
        .filter(col("event_type") === "click")
        .select(col("value"),
          input_file_name().contains("event_type=click").as("from_click_dir"))
        .agg(count(lit(1)).as("cnt"), sumExact(col("value")).as("sum_value"),
          min(col("from_click_dir")).as("pruned_only"))
    },
    Some("""SELECT COUNT(*) AS cnt,
      CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value,
      TRUE AS pruned_only
      FROM events WHERE event_type = 'click'"""))

  /** Per-group winsorization ([[AggOps.winsorize]]): clip l_extendedprice
    * at each return flag's own exact [p05, p95] — broadcast bounds + per-row
    * projection, no window over the fact table. */
  private val qWinsorize = QuerySpec(
    "q_winsorize",
    (s, dir) =>
      // the exact-percentile partial and the probe-side scan are both
      // compute-bound over the full table; fan a single-split parquet scan
      // across cores (no-op when the scan already has enough splits)
      AggOps.winsorize(core.Graft.rebalanceForCompute(t(s, dir, "lineitem")),
          "l_returnflag", "l_extendedprice", 0.05, 0.95)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("w_lo"), 6).as("w_lo"), round(col("w_hi"), 6).as("w_hi"),
          round(col("l_extendedprice_w"), 6).as("clipped"))
        .orderBy("l_orderkey", "l_linenumber"),
    Some("""WITH b AS (SELECT l_returnflag,
        quantile_cont(l_extendedprice, 0.05) AS blo,
        quantile_cont(l_extendedprice, 0.95) AS bhi
      FROM lineitem GROUP BY 1)
      SELECT l_orderkey, l_linenumber, l_returnflag,
        ROUND(blo, 6) AS w_lo, ROUND(bhi, 6) AS w_hi,
        ROUND(LEAST(GREATEST(l_extendedprice, blo), bhi), 6) AS clipped
      FROM lineitem JOIN b USING (l_returnflag)
      ORDER BY l_orderkey, l_linenumber"""))

  /** Per-domain cap ([[CorpusOps.capPerGroup]]): at most 10 documents per
    * source, the kept set chosen by hash order (stable across runs/engines,
    * independent of ingest order) — the anti-oversampling staple. */
  private val qDomainCap = QuerySpec(
    "q_domain_cap",
    (s, dir) =>
      CorpusOps.capPerGroup(t(s, dir, "documents"),
          col("source"), col("doc_id"), k = 10)
        .select("doc_id", "source")
        .orderBy("doc_id"),
    Some("""SELECT doc_id, source FROM (
        SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents) t
      WHERE rn <= 10 ORDER BY doc_id"""))

  /** Deterministic shard export ([[CorpusOps.shardShuffle]]): reproducible
    * global permutation into 8 shards — shard by portable md5 bucket, rank
    * by hash order within the shard. The "shuffle once, identically, every
    * run" step before training. */
  private val qShardShuffle = QuerySpec(
    "q_shard_shuffle",
    (s, dir) =>
      CorpusOps.shardShuffle(
          t(s, dir, "documents").select("doc_id", "source"),
          col("doc_id"), nShards = 8)
        .select("doc_id", "shard", "shard_rank")
        .orderBy("doc_id"),
    Some("""WITH h AS (SELECT doc_id,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          % 8 AS shard,
        md5(CAST(doc_id AS VARCHAR)) AS hx
      FROM documents)
      SELECT doc_id, shard,
        ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hx, doc_id)
          AS shard_rank
      FROM h ORDER BY doc_id"""))

  /** Int8 embedding quantization ([[SimilarityOps.quantizeInt8]]): per-
    * vector symmetric scale, floor(x+0.5) codes (engine-unambiguous, unlike
    * round's half-up-vs-banker's split), clamped to [-127,127].
    * `dequant_ok` asserts the reconstruction error bound holds row by row. */
  private val qQuantizeInt8 = QuerySpec(
    "q_quantize_int8",
    (s, dir) => {
      val q = SimilarityOps.quantizeInt8(t(s, dir, "embeddings"), "embedding")
      val err = zip_with(col("qvec"), col("embedding"),
        (qi, vi) => abs(qi.cast("double") * col("scale") - vi.cast("double")))
      q.select(col("vec_id"), round(col("scale"), 6).as("scale_r"),
          aggregate(col("qvec"), lit(0L), (a, x) => a + x.cast("long"))
            .as("sum_q"),
          size(filter(col("qvec"), x => abs(x) === 127)).cast("long")
            .as("n_sat"),
          (aggregate(err, lit(0.0), (a, e) => greatest(a, e))
            <= col("scale") / 2 + lit(1e-9)).as("dequant_ok"))
        .orderBy("vec_id")
    },
    Some("""WITH q AS (SELECT vec_id, embedding,
        list_max(list_transform(embedding,
          x -> abs(CAST(x AS DOUBLE)))) / 127 AS scale
      FROM embeddings),
      qq AS (SELECT vec_id, scale,
        CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
        ELSE list_transform(embedding, x -> CAST(GREATEST(LEAST(
          FLOOR(CAST(x AS DOUBLE) / scale + 0.5), 127), -127) AS INT))
        END AS qv
      FROM q)
      SELECT vec_id, ROUND(scale, 6) AS scale_r,
        CAST(list_sum(qv) AS BIGINT) AS sum_q,
        CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat,
        TRUE AS dequant_ok
      FROM qq ORDER BY vec_id"""))

  /** SQL-text surface over the whole star schema: a TPC-H-Q5-shaped
    * six-table join submitted as ONE spark.sql string over registered views
    * — Catalyst picks join order/strategies from the text, nothing is
    * hand-assembled. The oracle runs the same ANSI text. */
  private val qSqlMultijoin = QuerySpec(
    "q_sql_multijoin",
    (s, dir) => {
      Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""SELECT n.n_name AS nation,
          CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
            AS DECIMAL(20,6))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_rows
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
          AND s.s_nationkey = c.c_nationkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n.n_name
        ORDER BY revenue DESC, nation""")
    },
    Some("""SELECT n.n_name AS nation,
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
          AS DECIMAL(20,6))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_rows
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
        AND s.s_nationkey = c.c_nationkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY n.n_name
      ORDER BY revenue DESC, nation"""))

  /** Semi-structured JSON column: events.props parsed with a declared
    * schema (from_json — typed, codegen'd, no UDF) and aggregated. The
    * reference has no JSON notion at all; any real event pipeline does. */
  private val qJsonExtract = QuerySpec(
    "q_json_extract",
    (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType))))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum(col("k")).cast("long").as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type"),
    Some("""SELECT event_type, COUNT(*) AS cnt,
        CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
          AS BIGINT) AS sum_k,
        MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** Schema evolution: an old batch (event_id, value) and a new batch with
    * an added column land in the same dataset; a mergeSchema read unions
    * the schemas, old rows showing NULL for the new column — the
    * add-a-column migration every long-lived 100 TB dataset goes through.
    * The oracle replays the batch split rule. */
  private val qSchemaEvolution = QuerySpec(
    "q_schema_evolution",
    (s, dir) => {
      val base = Graft.scratch(dir, "evo")
      val ev = t(s, dir, "events")
      ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .select("event_id", "value")
        .write.mode("overwrite").parquet(s"$base/b1")
      ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .select("event_id", "value", "event_type")
        .write.mode("overwrite").parquet(s"$base/b2")
      s.read.option("mergeSchema", "true").parquet(s"$base/b1", s"$base/b2")
        .agg(count(lit(1)).as("cnt"),
          count(col("event_type")).as("with_type"),
          countDistinct(col("event_type")).as("n_types"),
          sumExact(col("value")).as("sum_value"))
    },
    Some("""SELECT COUNT(*) AS cnt,
        CAST(COUNT(CASE WHEN event_id % 2 = 1 THEN 1 END) AS BIGINT)
          AS with_type,
        CAST(COUNT(DISTINCT CASE WHEN event_id % 2 = 1 THEN event_type END)
          AS BIGINT) AS n_types,
        CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      FROM events"""))

  /** Malformed-record handling: a CSV feed where every 7th line has a
    * non-numeric field is read in PERMISSIVE mode with a corrupt-record
    * column — bad rows are quarantined, not dropped and not fatal (the
    * ingest behavior real 100 TB feeds need). Spark derives good/bad FROM
    * THE PARSE; the oracle derives it from the construction rule. */
  private val qCsvPermissive = QuerySpec(
    "q_csv_permissive",
    (s, dir) => {
      val out = Graft.scratch(dir, "csv_perm")
      t(s, dir, "documents")
        .select(concat(
          col("doc_id").cast("string"), lit(","),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit("xx"), col("n_chars").cast("string")))
            .otherwise(col("n_chars").cast("string"))).as("value"))
        .write.mode("overwrite").text(out)
      s.read
        .schema("doc_id LONG, v DOUBLE, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
        .agg(count(lit(1)).as("n_rows"),
          count(col("_corrupt_record")).as("n_bad"),
          sumExact(when(col("_corrupt_record").isNull, col("v"))).as("sum_good"))
    },
    Some("""SELECT COUNT(*) AS n_rows,
        CAST(COUNT(CASE WHEN doc_id % 7 = 0 THEN 1 END) AS BIGINT) AS n_bad,
        CAST(SUM(CASE WHEN doc_id % 7 <> 0
          THEN CAST(n_chars AS DECIMAL(20,6)) END) AS DOUBLE) AS sum_good
      FROM documents"""))

  /** Rolling per-key exact median: each user's median event value over a
    * 5-row trailing window — the windowed-aggregate form of the exact
    * percentile surface (anomaly smoothing / robust baselines). One shuffle
    * on user_id; the window is bounded (5 rows of state per row). */
  private val qRollingMedian = QuerySpec(
    "q_rolling_median",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-4, 0)
      t(s, dir, "events")
        .filter(col("user_id") < 200)
        .select(col("event_id"), col("user_id"),
          round(expr("percentile(value, 0.5)").over(w), 6).as("med5"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id,
        ROUND(quantile_cont(value, 0.5) OVER (PARTITION BY user_id
          ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
          6) AS med5
      FROM events WHERE user_id < 200 ORDER BY event_id"""))

  /** Watermarked stream-stream LEFT OUTER join: clicks with no purchase in
    * the hour emit null-padded — but only once the watermark proves the
    * match can't still arrive. A far-future sentinel row on each side
    * (filtered from the output) pushes the final watermark past every real
    * deadline, so the bounded replay emits the complete outer result
    * deterministically while the operator runs with a REAL 1-hour
    * watermark (bounded state), not the inner gate's effectively-infinite
    * one. */
  private val qStreamOuterJoin = QuerySpec(
    "q_stream_outer_join",
    (s, dir) => {
      val streamDir = linkedSource(dir, "streamsrc_outer", "events")
      // A far-future sentinel row per side pushes the watermark past every
      // real deadline so the trailing no-data batch emits ALL outer rows.
      // It must sit as a plain FILE next to events.parquet (the file stream
      // source lists the directory, it does not descend), and it must be
      // excluded AFTER the sink, never inside the streaming query: an
      // in-stream filter on the sentinel's key pushes down through the
      // outer join to the parquet scan, whose row-group stats then skip the
      // sentinel file entirely — and the watermark never sees it.
      // The sentinel's ts is written in the DATASET'S OWN generation
      // (raw nanos long vs TIMESTAMP_NTZ micros — see eventsTsIsRawNanos)
      // so the stream's declared schema reads both files; its filename is
      // KEYED by the dataset's max timestamp so a regenerated dataset can
      // never reuse a stale (no-longer-far-future) sentinel from scratch.
      val rawNanos = eventsTsIsRawNanos(s, dir)
      val maxTs: Long = maxTsMemo.computeIfAbsent(dir, _ => {
        val batch = s.read.parquet(s"$dir/events.parquet")
        if (rawNanos) batch.agg(max(col("ts").cast("long"))).head().getLong(0)
        else batch.agg(max(unix_micros(col("ts").cast("timestamp"))))
          .head().getLong(0)
      })
      val sentinelFile = streamDir.resolve(s"sentinel_$maxTs.parquet")
      if (!java.nio.file.Files.exists(sentinelFile)) {
        import s.implicits._
        val tmp = streamDir.resolve("_sentinel_build").toString
        val farTs = maxTs +
          (if (rawNanos) 900L * 86400e9.toLong else 900L * 86400e6.toLong)
        val base = Seq(
          (-1L, farTs, -1L, "click", 0.0, ""),
          (-2L, farTs, -2L, "purchase", 0.0, ""))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        val sentinel =
          if (rawNanos) base
          else base.withColumn("ts", timestamp_micros(col("ts"))
            .cast(org.apache.spark.sql.types.TimestampNTZType))
        sentinel.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath, sentinelFile)
      }
      // all files land in microbatch 1 (no per-trigger cap): the sentinel
      // must not be read before the real rows or they'd be marked late
      val feed = eventsStream(s, dir, "streamsrc_outer")
      val clicks = feed.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("cu"),
          col("event_time").as("click_time"))
      val purchases = feed.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("pu"),
          col("event_time").as("purchase_time"))
      val joined = graft.streaming.StreamOps.intervalJoin(
        clicks, "click_time", purchases, "purchase_time",
        expr("""cu = pu AND purchase_time >= click_time AND
                purchase_time <= click_time + interval 1 hour"""),
        watermark = "1 hour", joinType = "left_outer")
      // 4 state partitions, A/B'd r12 at this feed size (solo sf0.1 min:
      // 4 parts 3.13 s, 8 parts 3.78 s, 16 parts 4.98 s — each partition
      // carries two per-side state stores whose open/commit/snapshot cost
      // dominates a 2-micro-batch query; a production feed pins higher).
      // The sentinel max-ts probe is memoized per dataset (fixture prep,
      // not the measured stream).
      // sentinel exclusion happens HERE, on the sink table (see above)
      val pairs = joined
        .select(col("click_id"), col("purchase_id"), col("cu").as("user_id"))
      runToMemory(s, pairs, "graft_stream_outer", "append")
        .filter(col("user_id") >= 0)
        .orderBy("click_id", "purchase_id")
    },
    Some("""SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        c.user_id
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      ORDER BY click_id, purchase_id"""))

  /** Pivot (wide tables from long): per return flag, one column pair per
    * line status — the reshaping surface the reference could only fake with
    * per-key MultipleOutputs. Explicit pivot values keep the output schema
    * deterministic (and skip the extra distinct-values job at scale). */
  private val qPivot = QuerySpec(
    "q_pivot",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)).as("cnt"), sumExact(col("l_quantity")).as("qty"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
        CAST(COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT)
          AS F_cnt,
        CAST(SUM(CASE WHEN l_linestatus = 'F'
          THEN CAST(l_quantity AS DECIMAL(20,6)) END) AS DOUBLE) AS F_qty,
        CAST(COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT)
          AS O_cnt,
        CAST(SUM(CASE WHEN l_linestatus = 'O'
          THEN CAST(l_quantity AS DECIMAL(20,6)) END) AS DOUBLE) AS O_qty
      FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** Unpivot (long tables from wide): the inverse reshaping — measure
    * columns melt into (measure, value) rows. */
  private val qUnpivot = QuerySpec(
    "q_unpivot",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(sumExact(col("l_quantity")).as("qty"),
          sumExact(col("l_extendedprice")).as("price"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty"), col("price")), "measure", "value")
        .orderBy("l_returnflag", "measure"),
    Some("""WITH w AS (SELECT l_returnflag,
        CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS price
      FROM lineitem GROUP BY 1)
      SELECT l_returnflag, 'qty' AS measure, qty AS value FROM w
      UNION ALL
      SELECT l_returnflag, 'price' AS measure, price AS value FROM w
      ORDER BY l_returnflag, measure"""))

  /** Pearson correlation per group from exact-decimal moments
    * ([[AggOps.corrExact]]): built-in corr's streaming double updates are
    * partitioning-dependent; five exact sums combined once in double are
    * bit-stable in any engine. */
  private val qCorrelation = QuerySpec(
    "q_correlation",
    (s, dir) =>
      // five decimal moments over the full table are compute-bound: fan a
      // single-split scan across cores
      core.Graft.rebalanceForCompute(t(s, dir, "lineitem"))
        .groupBy("l_returnflag")
        .agg(round(AggOps.corrExact(
          col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag, ROUND(
        (COUNT(*) * CAST(SUM(CAST(l_quantity * l_extendedprice
            AS DECIMAL(20,6))) AS DOUBLE)
          - CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE)
            * CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE))
        / (sqrt(COUNT(*) * CAST(SUM(CAST(l_quantity * l_quantity
              AS DECIMAL(20,6))) AS DOUBLE)
            - CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE)
              * CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE))
          * sqrt(COUNT(*) * CAST(SUM(CAST(l_extendedprice * l_extendedprice
              AS DECIMAL(20,6))) AS DOUBLE)
            - CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE)
              * CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE))),
        6) AS corr_qty_price
      FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** Canonical pick ([[DedupOps.canonicalPick]]): the clusters from the
    * gated MinHash pipeline shrink to one representative each (highest
    * n_chars, hash-tiebroken); singletons survive as their own cluster.
    * This is the step that actually deduplicates the corpus. */
  private val qDedupCanonical = QuerySpec(
    "q_dedup_canonical",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = DedupOps.nearDupClusters(
        DedupOps.minhashLsh(docs, col("doc_id"), col("text"),
          shingleSize = 5, bands = 4, rowsPerBand = 2, minJaccard = 0.2))
      DedupOps.canonicalPick(docs, col("doc_id"), col("n_chars"), clusters)
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE docs AS (
        SELECT doc_id, list_distinct(list_transform(
            generate_series(1, len(toks) - 4),
            i -> array_to_string(toks[i:i+4], ' '))) AS shingles
        FROM (SELECT doc_id,
                list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
              FROM documents) t
        WHERE len(toks) >= 5),
      sigs AS (
        SELECT doc_id, shingles,
          list_min(list_transform(shingles, s -> substr(md5(s), 1, 16))) AS mh0,
          list_min(list_transform(shingles, s -> substr(md5(s), 3, 16))) AS mh1,
          list_min(list_transform(shingles, s -> substr(md5(s), 5, 16))) AS mh2,
          list_min(list_transform(shingles, s -> substr(md5(s), 7, 16))) AS mh3,
          list_min(list_transform(shingles, s -> substr(md5(s), 9, 16))) AS mh4,
          list_min(list_transform(shingles, s -> substr(md5(s), 11, 16))) AS mh5,
          list_min(list_transform(shingles, s -> substr(md5(s), 13, 16))) AS mh6,
          list_min(list_transform(shingles, s -> substr(md5(s), 15, 16))) AS mh7
        FROM docs),
      banded AS (
        SELECT doc_id, shingles, b,
          CASE b WHEN 0 THEN mh0 || '|' || mh1 WHEN 1 THEN mh2 || '|' || mh3
                 WHEN 2 THEN mh4 || '|' || mh5 ELSE mh6 || '|' || mh7 END AS key
        FROM sigs, range(4) r(b)),
      cand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM banded x JOIN banded y ON x.b = y.b AND x.key = y.key
          AND x.doc_id < y.doc_id),
      verified AS (
        SELECT a, b FROM (
          SELECT p.a, p.b,
            ROUND(CAST(len(list_intersect(da.shingles, db.shingles)) AS DOUBLE) /
                  len(list_distinct(list_concat(da.shingles, db.shingles))), 6) AS jaccard
          FROM cand p JOIN docs da ON p.a = da.doc_id
                      JOIN docs db ON p.b = db.doc_id) v
        WHERE jaccard >= 0.2),
      und AS (SELECT a AS x, b AS y FROM verified
              UNION SELECT b, a FROM verified),
      reach AS (
        SELECT x, y FROM und
        UNION
        SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x),
      clus AS (SELECT x AS doc_id, LEAST(x, MIN(y)) AS cluster_id
        FROM reach GROUP BY x),
      alld AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
          d.n_chars
        FROM documents d LEFT JOIN clus c USING (doc_id)),
      ranked AS (SELECT doc_id, cluster_id,
          COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
          ROW_NUMBER() OVER (PARTITION BY cluster_id
            ORDER BY n_chars DESC, md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM alld)
      SELECT doc_id, cluster_id, cluster_size FROM ranked
      WHERE rn = 1 ORDER BY doc_id"""))

  /** Expectation checks ([[QualityOps.expect]]): rule-based validation
    * with quarantine semantics — per-rule violation counts plus the clean
    * count, all from one pass. NULL rule results count as violations. */
  private val qExpectations = QuerySpec(
    "q_expectations",
    (s, dir) => {
      val checked = QualityOps.expect(t(s, dir, "events"), Seq(
        "value_in_range" -> (col("value") >= 0 && col("value") <= 75),
        "known_type" -> col("event_type").isin(
          "click", "view", "purchase", "signup", "error"),
        "has_user" -> col("user_id").isNotNull))
      checked
        .select(explode_outer(when(size(col("violations")) === 0,
          array(lit("PASS"))).otherwise(col("violations"))).as("rule"))
        .groupBy("rule").agg(count(lit(1)).as("cnt"))
        .orderBy("rule")
    },
    Some("""WITH flags AS (SELECT
        CASE WHEN NOT COALESCE(value >= 0 AND value <= 75, FALSE)
          THEN 1 END AS v_range,
        CASE WHEN NOT COALESCE(event_type IN
          ('click','view','purchase','signup','error'), FALSE)
          THEN 1 END AS v_type,
        CASE WHEN user_id IS NULL THEN 1 END AS v_user
      FROM events),
      rules AS (
        SELECT 'value_in_range' AS rule, COUNT(v_range) AS cnt FROM flags
        UNION ALL
        SELECT 'known_type', COUNT(v_type) FROM flags
        UNION ALL
        SELECT 'has_user', COUNT(v_user) FROM flags
        UNION ALL
        SELECT 'PASS', COUNT(CASE WHEN v_range IS NULL AND v_type IS NULL
          AND v_user IS NULL THEN 1 END) FROM flags)
      SELECT rule, cnt FROM rules WHERE cnt > 0 ORDER BY rule"""))

  /** CDC apply ([[QualityOps.cdcApply]]): a deterministic changelog
    * (updates for every 10th key, deletes for every 17th — higher seq, so
    * delete wins on overlap — inserts cloned to new keys) replays onto the
    * customer snapshot; the oracle recomputes the same last-op-wins merge
    * relationally. */
  private val qCdcApply = QuerySpec(
    "q_cdc_apply",
    (s, dir) => {
      val cust = t(s, dir, "customer")
      val updates = cust.filter(pmod(col("c_custkey"), lit(10)) === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .withColumn("op", lit("U")).withColumn("seq", lit(1L))
      val deletes = cust.filter(pmod(col("c_custkey"), lit(17)) === 0)
        .withColumn("op", lit("D")).withColumn("seq", lit(2L))
      val inserts = cust.filter(pmod(col("c_custkey"), lit(25)) === 0)
        .withColumn("c_custkey", col("c_custkey") + 100000L)
        .withColumn("op", lit("I")).withColumn("seq", lit(1L))
      val changes = updates.unionByName(deletes).unionByName(inserts)
      QualityOps.cdcApply(cust, changes, "c_custkey")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          round(col("c_acctbal"), 6).as("c_acctbal"), col("c_mktsegment"))
        .orderBy("c_custkey")
    },
    Some("""WITH changes AS (
        SELECT c_custkey AS k, 'U' AS op, 1 AS seq, c_name, c_nationkey,
          c_acctbal + 1000 AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey, 'D', 2, c_name, c_nationkey, c_acctbal,
          c_mktsegment
        FROM customer WHERE c_custkey % 17 = 0
        UNION ALL
        SELECT c_custkey + 100000, 'I', 1, c_name, c_nationkey, c_acctbal,
          c_mktsegment
        FROM customer WHERE c_custkey % 25 = 0),
      latest AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER
          (PARTITION BY k ORDER BY seq DESC, op DESC) AS rn FROM changes)
        WHERE rn = 1),
      merged AS (
        SELECT COALESCE(c.k, b.c_custkey) AS c_custkey,
          CASE WHEN c.k IS NOT NULL THEN c.c_name
               ELSE b.c_name END AS c_name,
          CASE WHEN c.k IS NOT NULL THEN c.c_nationkey
               ELSE b.c_nationkey END AS c_nationkey,
          CASE WHEN c.k IS NOT NULL THEN c.c_acctbal
               ELSE b.c_acctbal END AS c_acctbal,
          CASE WHEN c.k IS NOT NULL THEN c.c_mktsegment
               ELSE b.c_mktsegment END AS c_mktsegment,
          c.op AS op
        FROM customer b FULL OUTER JOIN latest c ON b.c_custkey = c.k)
      SELECT c_custkey, c_name, c_nationkey, ROUND(c_acctbal, 6) AS c_acctbal,
        c_mktsegment
      FROM merged WHERE op IS NULL OR op <> 'D'
      ORDER BY c_custkey"""))

  /** binaryFile source — the multimodal ingestion path: opaque files land
    * as (path, length, content) rows and route by sniffed magic bytes
    * ([[MultimodalOps.sniffFormat]]). Spark derives format and size FROM
    * THE FILES; the oracle replays the construction rule. */
  private val qBinaryFiles = QuerySpec(
    "q_binary_files",
    (s, dir) => {
      val base = java.nio.file.Paths.get(Graft.scratch(dir, "binfiles"))
      // rebuild from scratch: stale files from a previous dataset would
      // otherwise survive the per-name overwrite and pollute the scan
      if (java.nio.file.Files.exists(base)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(base).iterator().asScala
          .foreach(java.nio.file.Files.delete)
      }
      java.nio.file.Files.createDirectories(base)
      val docs = t(s, dir, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"), encode(col("text"), "utf-8").as("body"))
        .collect()
      docs.foreach { r =>
        val id = r.getLong(0); val body = r.getAs[Array[Byte]](1)
        val magic: Array[Byte] = (id % 3) match {
          case 0 => Array(0x89.toByte, 0x50, 0x4E, 0x47)
          case 1 => Array(0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte)
          case _ => Array(0x00)
        }
        java.nio.file.Files.write(base.resolve(f"doc_$id%05d.bin"),
          magic ++ body)
      }
      s.read.format("binaryFile").load(base.toString)
        .select(
          MultimodalOps.sniffFormat(col("content")).as("format"),
          col("length"),
          regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1)
            .cast("long").as("doc_id"))
        .groupBy("format")
        .agg(count(lit(1)).as("cnt"), sum(col("length")).cast("long").as("bytes"),
          min(col("doc_id")).as("min_id"))
        .orderBy("format")
    },
    Some("""SELECT CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        ELSE 'unknown' END AS format,
      COUNT(*) AS cnt,
      CAST(SUM(octet_length(encode(text)) + CASE doc_id % 3 WHEN 0 THEN 4
        WHEN 1 THEN 4 ELSE 1 END) AS BIGINT) AS bytes,
      MIN(doc_id) AS min_id
      FROM documents WHERE doc_id < 40 GROUP BY 1 ORDER BY 1"""))

  /** ANN over int8 codes ([[SimilarityOps.int8CosineTopK]]): the
    * per-vector scales cancel out of the cosine, so ranking runs on exact
    * integer codes — bit-stable in any engine at 1/4 the corpus bytes.
    * The oracle requantizes with the same floor(x+0.5) rule and ranks the
    * integer cosine identically. */
  private val qAnnInt8 = QuerySpec(
    "q_ann_int8",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.int8CosineTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("nbr_id"), col("sim"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH sc AS (SELECT vec_id, embedding,
        list_max(list_transform(embedding,
          y -> abs(CAST(y AS DOUBLE)))) / 127 AS scale
      FROM embeddings),
      codes AS (SELECT vec_id,
        CASE WHEN scale = 0
        THEN CAST(list_transform(embedding, x -> 0) AS DOUBLE[])
        ELSE CAST(list_transform(embedding, x -> CAST(GREATEST(LEAST(FLOOR(
          CAST(x AS DOUBLE) / scale + 0.5),
          127), -127) AS INT)) AS DOUBLE[])
        END AS qv
      FROM sc),
      q AS (SELECT vec_id AS query_id, qv AS qvec FROM codes
        WHERE vec_id < 10),
      c AS (SELECT vec_id AS nbr_id, qv AS cvec FROM codes),
      scored AS (
        SELECT query_id, nbr_id,
          ROUND(list_dot_product(qvec, cvec) /
            (sqrt(list_dot_product(qvec, qvec)) *
             sqrt(list_dot_product(cvec, cvec))),
            6) AS sim
        FROM q, c WHERE nbr_id <> query_id)
      SELECT query_id, nbr_id, sim, "rank" FROM (
        SELECT query_id, nbr_id, sim, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS "rank"
        FROM scored) t
      WHERE "rank" <= 5 ORDER BY query_id, "rank""""))

  /** Exact heavy hitters over the token stream ([[AggOps.heavyHitters]]):
    * a per-partition Misra–Gries sketch (capacity 30, BELOW the 31-word
    * vocabulary, so decrements genuinely fire) nominates a driver-bounded
    * candidate superset; a pruned second pass recounts candidates exactly
    * and keeps freq·k > n. The oracle is the plain full GROUP BY … HAVING —
    * identical output because the two-pass design is exact, only cheaper:
    * at 100 TB the sketch pass shuffles nothing and the recount shuffles
    * only candidate-key rows. */
  private val qHeavyHitters = QuerySpec(
    "q_heavy_hitters",
    (s, dir) => AggOps.heavyHitters(
        t(s, dir, "documents")
          .select(explode(TextFunctions.tokens(col("text"))).as("w")),
        col("w"), k = 30)
      .select(col("k").as("word"), col("freq"))
      .orderBy("word"),
    Some("""WITH tok AS (SELECT unnest(string_split_regex(text, '\s+')) AS word
        FROM documents),
      t AS (SELECT word FROM tok WHERE word <> ''),
      n AS (SELECT COUNT(*) AS c FROM t)
      SELECT word, COUNT(*) AS freq FROM t, n GROUP BY word, n.c
      HAVING COUNT(*) * 30 > n.c ORDER BY word"""))

  /** Product-quantization ANN ([[SimilarityOps.pqCodebook]]/[[SimilarityOps.pqTopK]]):
    * 64-dim vectors → 4 subspaces × 8 codewords (codebook SAMPLED from
    * the whole corpus by portable-hash order — the 8 smallest
    * (md5(vec_id), vec_id) rows, unbiased by construction where the
    * r15 lowest-id draw was ingest-order-correlated), corpus encoded to
    * 4 small codes each, queries ranked by squared-L2 reconstruction
    * distance. The oracle re-derives the sampled codebook, argmin
    * encoding, and reconstruction ranking in SQL — both engines compute
    * ‖x‖²−2x·c+‖c‖² with sequential-fold dots and 6-dp rounding,
    * lowest-id tiebreaks, so the approximate result is deterministic and
    * hash-comparable. */
  private val qAnnPq = QuerySpec(
    "q_ann_pq",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = SimilarityOps.pqCodebook(emb, m = 4, k = 8)
      SimilarityOps.pqTopK(emb, emb.filter(col("vec_id") < 10), k = 5, cb)
        .select(col("query_id"), col("nbr_id"), col("dist"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      sp AS (SELECT * FROM (VALUES (0),(1),(2),(3)) s(s)),
      cb AS (SELECT c.vec_id AS cid, s.s,
          list_slice(c.v, s.s*16+1, s.s*16+16) AS cw
        FROM (SELECT vec_id, v FROM e
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8) c
        CROSS JOIN sp s),
      codes AS (
        SELECT vec_id, s, cid FROM (
          SELECT e.vec_id, cb.s, cb.cid,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.s ORDER BY
              ROUND(list_dot_product(list_slice(e.v, cb.s*16+1, cb.s*16+16),
                                     list_slice(e.v, cb.s*16+1, cb.s*16+16))
                - 2*list_dot_product(list_slice(e.v, cb.s*16+1, cb.s*16+16), cb.cw)
                + list_dot_product(cb.cw, cb.cw), 6) ASC, cb.cid) AS rn
          FROM e CROSS JOIN cb) x WHERE rn = 1),
      recon AS (
        SELECT codes.vec_id AS nbr_id, flatten(list(cb.cw ORDER BY codes.s)) AS rv
        FROM codes JOIN cb ON cb.cid = codes.cid AND cb.s = codes.s
        GROUP BY codes.vec_id),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10)
      SELECT query_id, nbr_id, dist, "rank" FROM (
        SELECT q.query_id, r.nbr_id,
          ROUND(list_dot_product(q.qv, q.qv) - 2*list_dot_product(q.qv, r.rv)
            + list_dot_product(r.rv, r.rv), 6) AS dist,
          ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
            ROUND(list_dot_product(q.qv, q.qv) - 2*list_dot_product(q.qv, r.rv)
              + list_dot_product(r.rv, r.rv), 6) ASC, r.nbr_id) AS "rank"
        FROM q JOIN recon r ON r.nbr_id <> q.query_id) t
      WHERE "rank" <= 5 ORDER BY query_id, "rank""""))

  /** IVF-PQ composite ANN ([[SimilarityOps.ivfPqTopK]]): the IVF coarse
    * quantizer (8 cells, 2 probes — same contract as q_ann_ivf) routes
    * queries to cells, and candidates inside the probed cells are ranked by
    * PQ reconstruction distance (4 subspaces x 8 codewords — same codebook
    * contract as q_ann_pq). The oracle composes the two proven CTE
    * pipelines: assignment + probes from the IVF oracle, codebook + codes +
    * reconstruction from the PQ oracle, joined on the cell id. Both engines
    * round to 6 dp with lowest-id tiebreaks, so the composite index's
    * output is hash-comparable, not just plausible. */
  private val qAnnIvfPq = QuerySpec(
    "q_ann_ivf_pq",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = SimilarityOps.pqCodebook(emb.filter(col("vec_id") < 8), m = 4, k = 8)
      SimilarityOps.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
          nlist = 8, nprobe = 2, cb)
        .orderBy("query_id", "rank")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      assigned AS (
        SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ROUND(list_dot_product(e.v, c.cv) /
                (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))),
                6) DESC, c.cid) AS rn
          FROM e, cent c) x WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, v AS qv, cid FROM (
          SELECT e.vec_id, e.v, c.cid,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ROUND(list_dot_product(e.v, c.cv) /
                (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))),
                6) DESC, c.cid) AS rn
          FROM e, cent c WHERE e.vec_id < 10) x WHERE rn <= 2),
      sp AS (SELECT * FROM (VALUES (0),(1),(2),(3)) s(s)),
      cb AS (SELECT c.vec_id AS cwid, s.s,
          list_slice(c.v, s.s*16+1, s.s*16+16) AS cw
        FROM e c CROSS JOIN sp s WHERE c.vec_id < 8),
      codes AS (
        SELECT vec_id, s, cwid FROM (
          SELECT e.vec_id, cb.s, cb.cwid,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.s ORDER BY
              ROUND(list_dot_product(list_slice(e.v, cb.s*16+1, cb.s*16+16),
                                     list_slice(e.v, cb.s*16+1, cb.s*16+16))
                - 2*list_dot_product(list_slice(e.v, cb.s*16+1, cb.s*16+16), cb.cw)
                + list_dot_product(cb.cw, cb.cw), 6) ASC, cb.cwid) AS rn
          FROM e CROSS JOIN cb) x WHERE rn = 1),
      recon AS (
        SELECT codes.vec_id AS nbr_id, flatten(list(cb.cw ORDER BY codes.s)) AS rv
        FROM codes JOIN cb ON cb.cwid = codes.cwid AND cb.s = codes.s
        GROUP BY codes.vec_id),
      rc AS (SELECT r.nbr_id, r.rv, a.cid
        FROM recon r JOIN assigned a ON a.vec_id = r.nbr_id)
      SELECT query_id, nbr_id, dist, "rank" FROM (
        SELECT p.query_id, rc.nbr_id,
          ROUND(list_dot_product(p.qv, p.qv) - 2*list_dot_product(p.qv, rc.rv)
            + list_dot_product(rc.rv, rc.rv), 6) AS dist,
          ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
            ROUND(list_dot_product(p.qv, p.qv) - 2*list_dot_product(p.qv, rc.rv)
              + list_dot_product(rc.rv, rc.rv), 6) ASC, rc.nbr_id) AS "rank"
        FROM probes p JOIN rc ON rc.cid = p.cid
        WHERE rc.nbr_id <> p.query_id) t
      WHERE "rank" <= 5 ORDER BY query_id, "rank""""))

  /** Unicode normalization ([[graft.plans.NormalizeText]], the third
    * native codegen'd expression): composed (U+00E9) and decomposed
    * (e + U+0301) forms of the same text hash apart until NFC-normalized —
    * the cross-form canonicalization step exact dedup needs. The gate
    * builds both forms per document and hash-checks that raw forms differ,
    * NFC forms agree, and lengths collapse; DuckDB's nfc_normalize is the
    * oracle twin. */
  private val qNormalize = QuerySpec(
    "q_normalize",
    (s, dir) => {
      graft.plans.NativeFunctions.register(s)
      val composed = concat(lit("caf\u00e9 "), col("text"))
      val decomposed = concat(lit("cafe\u0301 "), col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          length(composed).as("len_c"),
          length(decomposed).as("len_d"),
          (composed === decomposed).as("raw_eq"),
          (graft.plans.NativeFunctions.normalize_text(composed, "NFC") ===
            graft.plans.NativeFunctions.normalize_text(decomposed, "NFC"))
            .as("nfc_eq"),
          // Spark's chr() is mod-256, so the combining mark is embedded
          // directly in the SQL text as a \u escape
          length(expr("graft_normalize(concat('cafe\u0301 ', text), 'NFC')"))
            .as("len_nfc"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
        length('caf' || chr(233) || ' ' || text) AS len_c,
        length('cafe' || chr(769) || ' ' || text) AS len_d,
        FALSE AS raw_eq, TRUE AS nfc_eq,
        length(nfc_normalize('cafe' || chr(769) || ' ' || text)) AS len_nfc
      FROM documents ORDER BY doc_id"""))

  /** Robust CSV round-trip: fields carrying embedded commas, quotes, and
    * newlines survive write+read (quoting + escaping + multiLine). The
    * reference's KV-text format simply cannot express these; real CSV
    * feeds hit them on day one. */
  private val qCsvQuoted = QuerySpec(
    "q_csv_quoted",
    (s, dir) => {
      val out = Graft.scratch(dir, "csvq")
      val tricky = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"),
          concat(lit("a,b \""), col("source"), lit("\"\nline2 "),
            col("lang")).as("payload"),
          col("n_chars"))
      tricky.write.mode("overwrite")
        .option("quoteAll", "true").option("escape", "\"")
        .csv(out)
      s.read
        .schema("doc_id LONG, payload STRING, n_chars LONG")
        .option("multiLine", "true").option("escape", "\"")
        .csv(out)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          count(when(col("payload").contains(",") &&
            col("payload").contains("\"") &&
            col("payload").contains("\n"), 1)).as("n_intact"))
    },
    Some("""SELECT COUNT(*) AS n_rows,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        COUNT(*) AS n_intact
      FROM documents WHERE doc_id < 100"""))

  /** Time-series gap filling ([[GroupOps.gapFill]]): dense hourly series
    * per event type, zero rows where a type had no events — the
    * sparse-to-dense step every reporting/training pipeline runs after a
    * groupBy. The grid generates from a two-row aggregate; the fact table
    * shuffles once. */
  private val qGapFill = QuerySpec(
    "q_gap_fill",
    (s, dir) =>
      GroupOps.gapFill(t(s, dir, "events"), "event_type", "ts", 3600L)
        .orderBy("key", "bucket_start"),
    Some("""WITH ext AS (SELECT event_type, date_trunc('hour', ts) AS b
        FROM events),
      span AS (SELECT min(b) AS lo, max(b) AS hi FROM ext),
      grid AS (SELECT k.event_type, t.g AS b
        FROM (SELECT DISTINCT event_type FROM events) k, span,
          unnest(generate_series(span.lo, span.hi, INTERVAL 1 HOUR)) t(g)),
      counts AS (SELECT event_type, b, COUNT(*) AS cnt FROM ext GROUP BY 1, 2)
      SELECT g.event_type AS key, g.b AS bucket_start,
        CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
      FROM grid g LEFT JOIN counts c
        ON g.event_type = c.event_type AND g.b = c.b
      ORDER BY key, bucket_start"""))

  /** PageRank ([[GraphOps.pagerank]]) over a bipartite part↔supplier graph
    * derived from lineitem: supply edges part→supplier; even-keyed suppliers
    * link back, odd ones dangle, so the dangling-mass fold is exercised on
    * real rows. Three power iterations at damping 0.85; ranks reported as
    * exact 1e-9-quantized integers. The oracle unrolls the same three
    * iterations with the same scaled-long quantization, term for term, so
    * the match is bit-exact rather than tolerance-based. */
  private val qPagerank = QuerySpec(
    "q_pagerank",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val fwd = li.select(col("l_partkey").cast("long").as("src"),
        (lit(1000000000L) + col("l_suppkey")).cast("long").as("dst"))
      val back = li.filter(col("l_suppkey") % 2 === 0)
        .select((lit(1000000000L) + col("l_suppkey")).cast("long").as("src"),
          col("l_partkey").cast("long").as("dst"))
      GraphOps.pagerank(fwd.union(back).distinct(), iters = 3)
        .select(col("id"),
          floor(col("r") * lit(1e9) + lit(0.5)).cast("long").as("rank_e9"))
        .orderBy("id")
    },
    Some("""WITH eg AS (
        SELECT DISTINCT l_partkey AS src, 1000000000 + l_suppkey AS dst FROM lineitem
        UNION
        SELECT DISTINCT 1000000000 + l_suppkey AS src, l_partkey AS dst
        FROM lineitem WHERE l_suppkey % 2 = 0),
      nodes AS (SELECT DISTINCT id
        FROM (SELECT src AS id FROM eg UNION ALL SELECT dst AS id FROM eg) u),
      nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
      deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS c FROM eg GROUP BY 1),
      r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS r FROM nodes),
      d1 AS (SELECT COALESCE(SUM(CAST(floor(p.r * 1e15 + 0.5) AS BIGINT)), 0) AS dm
        FROM r0 p LEFT JOIN deg ON deg.src = p.id WHERE deg.src IS NULL),
      c1 AS (SELECT e.dst AS id,
          CAST(SUM(CAST(floor(p.r / d.c * 1e15 + 0.5) AS BIGINT)) AS DOUBLE) / 1e15 AS contrib
        FROM eg e JOIN r0 p ON e.src = p.id JOIN deg d ON d.src = e.src GROUP BY 1),
      r1 AS (SELECT n.id,
          (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
          + CAST(0.85 AS DOUBLE) * (COALESCE(c.contrib, CAST(0 AS DOUBLE))
              + (CAST((SELECT dm FROM d1) AS DOUBLE) / 1e15) / (SELECT n FROM nn)) AS r
        FROM nodes n LEFT JOIN c1 c ON n.id = c.id),
      d2 AS (SELECT COALESCE(SUM(CAST(floor(p.r * 1e15 + 0.5) AS BIGINT)), 0) AS dm
        FROM r1 p LEFT JOIN deg ON deg.src = p.id WHERE deg.src IS NULL),
      c2 AS (SELECT e.dst AS id,
          CAST(SUM(CAST(floor(p.r / d.c * 1e15 + 0.5) AS BIGINT)) AS DOUBLE) / 1e15 AS contrib
        FROM eg e JOIN r1 p ON e.src = p.id JOIN deg d ON d.src = e.src GROUP BY 1),
      r2 AS (SELECT n.id,
          (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
          + CAST(0.85 AS DOUBLE) * (COALESCE(c.contrib, CAST(0 AS DOUBLE))
              + (CAST((SELECT dm FROM d2) AS DOUBLE) / 1e15) / (SELECT n FROM nn)) AS r
        FROM nodes n LEFT JOIN c2 c ON n.id = c.id),
      d3 AS (SELECT COALESCE(SUM(CAST(floor(p.r * 1e15 + 0.5) AS BIGINT)), 0) AS dm
        FROM r2 p LEFT JOIN deg ON deg.src = p.id WHERE deg.src IS NULL),
      c3 AS (SELECT e.dst AS id,
          CAST(SUM(CAST(floor(p.r / d.c * 1e15 + 0.5) AS BIGINT)) AS DOUBLE) / 1e15 AS contrib
        FROM eg e JOIN r2 p ON e.src = p.id JOIN deg d ON d.src = e.src GROUP BY 1),
      r3 AS (SELECT n.id,
          (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
          + CAST(0.85 AS DOUBLE) * (COALESCE(c.contrib, CAST(0 AS DOUBLE))
              + (CAST((SELECT dm FROM d3) AS DOUBLE) / 1e15) / (SELECT n FROM nn)) AS r
        FROM nodes n LEFT JOIN c3 c ON n.id = c.id)
      SELECT id, CAST(floor(r * 1e9 + 0.5) AS BIGINT) AS rank_e9
      FROM r3 ORDER BY id"""))

  /** PMI lift co-occurrence ([[CorpusOps.pmiPairs]]): presence-based word
    * association over documents, df floor 10, pair support floor 5. */
  private val qPmi = QuerySpec(
    "q_pmi",
    (s, dir) =>
      CorpusOps.pmiPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
          minDf = 10, minPair = 5)
        .orderBy("w1", "w2"),
    Some("""WITH posting AS (
        SELECT doc_id, unnest(list_distinct(list_filter(
          string_split_regex(text, '\s+'), x -> x <> ''))) AS w
        FROM documents),
      vocab AS (SELECT w, COUNT(*) AS c FROM posting GROUP BY 1
        HAVING COUNT(*) >= 10),
      pruned AS (SELECT p.doc_id, p.w, v.c FROM posting p JOIN vocab v ON p.w = v.w),
      pairs AS (SELECT a.w AS w1, b.w AS w2, COUNT(*) AS c12,
          MIN(a.c) AS c1, MIN(b.c) AS c2
        FROM pruned a JOIN pruned b ON a.doc_id = b.doc_id AND a.w < b.w
        GROUP BY 1, 2 HAVING COUNT(*) >= 5),
      d AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents)
      SELECT w1, w2, c12,
        CAST(floor(CAST(c12 AS DOUBLE) * (SELECT nd FROM d)
          / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS lift_e6
      FROM pairs ORDER BY w1, w2"""))

  /** Distribution drift ([[QualityOps.distributionDrift]]): per-source
    * total-variation distance of the language mix vs the corpus mix. */
  private val qDistDrift = QuerySpec(
    "q_dist_drift",
    (s, dir) =>
      QualityOps.distributionDrift(t(s, dir, "documents"), col("source"), col("lang"))
        .select(col("g").as("source"), col("n").as("n_docs"), col("tv_e6"))
        .orderBy("source"),
    Some("""WITH cell AS (SELECT source AS g, lang AS cat, COUNT(*) AS n
        FROM documents GROUP BY 1, 2),
      bg AS (SELECT g, SUM(n) AS n_g FROM cell GROUP BY 1),
      bc AS (SELECT cat, SUM(n) AS n_c FROM cell GROUP BY 1),
      tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM cell),
      pq AS (SELECT grid.g, grid.n_g,
          CAST(COALESCE(c.n, 0) AS DOUBLE) / CAST(grid.n_g AS DOUBLE) AS p,
          CAST(grid.n_c AS DOUBLE) / (SELECT t FROM tot) AS q
        FROM (SELECT bg.g, bg.n_g, bc.cat, bc.n_c FROM bg CROSS JOIN bc) grid
        LEFT JOIN cell c ON grid.g = c.g AND grid.cat = c.cat)
      SELECT g AS source, CAST(MIN(n_g) AS BIGINT) AS n_docs,
        CAST(floor(CAST(SUM(CAST(floor(abs(p - q) * 1e15 + 0.5) AS BIGINT)) AS DOUBLE)
          / 1e15 * 0.5 * 1e6 + 0.5) AS BIGINT) AS tv_e6
      FROM pq GROUP BY 1 ORDER BY 1"""))

  /** Parquet bloom-filter interop: write with a column-level bloom filter on
    * l_partkey (parquet.bloom.filter.enabled#col — the standard
    * point-lookup layout knob), read back through a selective filter. The
    * footer-level assertion that bloom offsets actually got recorded per row
    * group lives in ParquetBloomSpec; the gate hash-checks content. */
  private val qParquetBloom = QuerySpec(
    "q_parquet_bloom",
    (s, dir) => {
      val out = Graft.scratch(dir, "parquet_bloom")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_partkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_partkey", "20000")
        .parquet(out)
      s.read.parquet(out)
        .filter(col("l_partkey") % 997 === 1)
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_rows"), sumExact(col("l_quantity")).as("sum_qty"))
        .orderBy("l_partkey")
    },
    Some("""SELECT l_partkey, COUNT(*) AS n_rows,
      CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
      FROM lineitem WHERE l_partkey % 997 = 1
      GROUP BY 1 ORDER BY 1"""))

  /** Ordered funnel ([[AnalyticsOps.funnel]]): view → click → purchase with
    * earliest-completion semantics; per-step user counts. */
  private val qFunnel = QuerySpec(
    "q_funnel",
    (s, dir) =>
      AnalyticsOps.funnel(t(s, dir, "events"), col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase")),
    Some("""WITH s1 AS (SELECT user_id AS u, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT s1.u, MIN(e.ts) AS t2 FROM s1 JOIN events e
        ON e.user_id = s1.u AND e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY 1),
      s3 AS (SELECT s2.u, MIN(e.ts) AS t3 FROM s2 JOIN events e
        ON e.user_id = s2.u AND e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY 1)
      SELECT * FROM (
        SELECT 1 AS step_idx, 'view' AS step, (SELECT COUNT(*) FROM s1) AS n_users
        UNION ALL
        SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
        UNION ALL
        SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)) f
      ORDER BY step_idx"""))

  /** Weekly cohort retention ([[AnalyticsOps.retentionCohorts]]). */
  private val qRetention = QuerySpec(
    "q_retention",
    (s, dir) =>
      AnalyticsOps.retentionCohorts(t(s, dir, "events"), col("user_id"), col("ts")),
    Some("""WITH coh AS (SELECT user_id AS u, date_trunc('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY 1),
      act AS (SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS aw FROM events)
      SELECT coh.cohort_week,
        CAST(date_diff('day', coh.cohort_week, act.aw) / 7 AS BIGINT) AS week_offset,
        COUNT(*) AS n_users
      FROM coh JOIN act ON coh.u = act.u
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Interval merge ([[AnalyticsOps.mergeIntervals]]): 30-minute activity
    * windows per user coalesced into islands; deduplicated coverage in
    * exact integer microseconds. */
  private val qIntervalMerge = QuerySpec(
    "q_interval_merge",
    (s, dir) =>
      AnalyticsOps.mergeIntervals(
        t(s, dir, "events").select(col("user_id"), col("ts"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("te")),
        col("user_id"), col("ts"), col("te"))
        .select(col("k").as("user_id"), col("n_islands"), col("covered_us")),
    Some("""WITH iv AS (SELECT user_id AS k, ts AS s, ts + INTERVAL 30 MINUTE AS e
        FROM events),
      marked AS (SELECT k, s, e,
          CASE WHEN MAX(e) OVER (PARTITION BY k ORDER BY s, e
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
            OR s > MAX(e) OVER (PARTITION BY k ORDER BY s, e
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          THEN 1 ELSE 0 END AS new_island
        FROM iv),
      isl AS (SELECT k, s, e,
          SUM(new_island) OVER (PARTITION BY k ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM marked),
      merged AS (SELECT k, island, MIN(s) AS ms, MAX(e) AS me
        FROM isl GROUP BY 1, 2)
      SELECT k AS user_id, COUNT(*) AS n_islands,
        CAST(SUM(date_diff('microsecond', ms, me)) AS BIGINT) AS covered_us
      FROM merged GROUP BY 1 ORDER BY 1"""))

  /** Clickstream transition matrix ([[AnalyticsOps.transitions]]):
    * adjacent-event type pairs per user, with exact 1e-6-quantized
    * row-normalized probabilities. */
  private val qTransitions = QuerySpec(
    "q_transitions",
    (s, dir) =>
      AnalyticsOps.transitions(t(s, dir, "events"), col("user_id"), col("ts"),
        col("event_type"), col("event_id")),
    Some("""WITH seq AS (SELECT user_id, event_type AS s,
          lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events),
      pairs AS (SELECT s AS from_step, nxt AS to_step, COUNT(*) AS n
        FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT from_step, SUM(n) AS tot FROM pairs GROUP BY 1)
      SELECT p.from_step, p.to_step, p.n,
        CAST(floor(CAST(p.n AS DOUBLE) * 1e6 / CAST(t.tot AS DOUBLE) + 0.5) AS BIGINT) AS p_e6
      FROM pairs p JOIN tot t ON p.from_step = t.from_step
      ORDER BY 1, 2"""))

  /** Blocked fuzzy join ([[DedupOps.fuzzyPairs]]): part-name pairs within
    * Levenshtein 2, blocked on the noun token so no cartesian product
    * forms. Spark and DuckDB both score edit distance at unit cost. */
  private val qFuzzyJoin = QuerySpec(
    "q_fuzzy_join",
    (s, dir) =>
      DedupOps.fuzzyPairs(t(s, dir, "part"), col("p_name"),
          split(col("p_name"), " ").getItem(1), maxDist = 2)
        .orderBy("n1", "n2"),
    Some("""WITH names AS (SELECT DISTINCT p_name AS n,
          split_part(p_name, ' ', 2) AS blk FROM part)
      SELECT a.n AS n1, b.n AS n2, levenshtein(a.n, b.n) AS d
      FROM names a JOIN names b
        ON a.blk = b.blk AND a.n < b.n AND abs(length(a.n) - length(b.n)) <= 2
      WHERE levenshtein(a.n, b.n) <= 2
      ORDER BY 1, 2"""))

  /** Native Jaro-Winkler scorer ([[graft.plans.JaroWinkler]]) over the same
    * blocked candidate pairs; similarity reported as exact
    * floor(jw*1e6+0.5) integers against DuckDB's byte-level
    * jaro_winkler_similarity. */
  private val qJaroWinkler = QuerySpec(
    "q_jaro_winkler",
    (s, dir) => {
      DedupOps.blockedCandidatePairs(t(s, dir, "part"), col("p_name"),
          split(col("p_name"), " ").getItem(1))
        .withColumn("jw",
          graft.plans.NativeFunctions.jaro_winkler(col("n1"), col("n2")))
        .filter(col("jw") >= 0.8)
        .select(col("n1"), col("n2"),
          floor(col("jw") * lit(1e6) + lit(0.5)).cast("long").as("jw_e6"))
        .orderBy("n1", "n2")
    },
    Some("""WITH names AS (SELECT DISTINCT p_name AS n,
          split_part(p_name, ' ', 2) AS blk FROM part)
      SELECT a.n AS n1, b.n AS n2,
        CAST(floor(jaro_winkler_similarity(a.n, b.n) * 1e6 + 0.5) AS BIGINT) AS jw_e6
      FROM names a JOIN names b ON a.blk = b.blk AND a.n < b.n
      WHERE jaro_winkler_similarity(a.n, b.n) >= 0.8
      ORDER BY 1, 2"""))

  /** Triangle counting ([[GraphOps.triangleCounts]]) on the co-purchase
    * graph (parts sharing an order). The oracle enumerates triangles in
    * plain id order — orientation changes the join cost, never the
    * triangle set, so the two strategies cross-check each other. */
  private val qTriangles = QuerySpec(
    "q_triangles",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val a = li.select(col("ok"), col("pk").as("src"))
      val b = li.select(col("ok").as("ok2"), col("pk").as("dst"))
      val edges = a.join(b, col("ok") === col("ok2") && col("src") < col("dst"))
        .select(col("src"), col("dst"))
      GraphOps.triangleCounts(edges).orderBy("node")
    },
    Some("""WITH e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
      tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1 JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      nodes AS (SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
      SELECT node, COUNT(*) AS n_tri FROM nodes GROUP BY 1 ORDER BY 1"""))

  /** Robust outlier profile ([[QualityOps.madOutliers]]): per-event-type
    * median / MAD / 3-MAD outlier counts over the value column. */
  private val qMadOutliers = QuerySpec(
    "q_mad_outliers",
    (s, dir) =>
      QualityOps.madOutliers(t(s, dir, "events"), col("event_type"), col("value"))
        .select(col("g").as("event_type"), col("med"), col("mad"),
          col("n"), col("n_outliers"))
        .orderBy("event_type"),
    Some("""WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY 1),
      stats AS (SELECT e.event_type, MIN(m.med) AS med,
          quantile_cont(abs(e.value - m.med), 0.5) AS mad, COUNT(*) AS n
        FROM events e JOIN med m ON e.event_type = m.event_type GROUP BY 1)
      SELECT e.event_type, ROUND(MIN(st.med), 6) AS med,
        ROUND(MIN(st.mad), 6) AS mad, MIN(st.n) AS n,
        COUNT(*) FILTER (abs(e.value - st.med) > 3.0 * st.mad) AS n_outliers
      FROM events e JOIN stats st ON e.event_type = st.event_type
      GROUP BY 1 ORDER BY 1"""))

  /** Chi-square independence ([[QualityOps.chiSquare]]) of language vs
    * source over documents — integer-exact statistic from per-cell
    * quantized contributions. */
  private val qChiSquare = QuerySpec(
    "q_chi_square",
    (s, dir) =>
      QualityOps.chiSquare(t(s, dir, "documents"), col("lang"), col("source")),
    Some("""WITH cells AS (SELECT lang AS a, source AS b, COUNT(*) AS o
        FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        GROUP BY 1, 2),
      ma AS (SELECT a, SUM(o) AS na FROM cells GROUP BY 1),
      mb AS (SELECT b, SUM(o) AS nb FROM cells GROUP BY 1),
      tot AS (SELECT SUM(o) AS n FROM cells),
      grid AS (SELECT ma.a, mb.b, ma.na, mb.nb, (SELECT n FROM tot) AS n,
          COALESCE(c.o, 0) AS o,
          CAST(ma.na AS DOUBLE) * CAST(mb.nb AS DOUBLE)
            / CAST((SELECT n FROM tot) AS DOUBLE) AS e
        FROM ma CROSS JOIN mb LEFT JOIN cells c ON ma.a = c.a AND mb.b = c.b)
      SELECT CAST(MIN(n) AS BIGINT) AS n,
        (COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS dof,
        CAST(SUM(CAST(floor((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)
          / e * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS chi2_e6
      FROM grid"""))

  /** Token entropy ([[CorpusOps.tokenEntropy]]): per-source lexical
    * diversity in quantized nats. */
  private val qTokenEntropy = QuerySpec(
    "q_token_entropy",
    (s, dir) =>
      CorpusOps.tokenEntropy(t(s, dir, "documents"), col("source"), col("text"))
        .select(col("g").as("source"), col("n_tokens"), col("vocab"),
          col("entropy_e9"))
        .orderBy("source"),
    Some("""WITH toks AS (SELECT source AS g,
          unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS w
        FROM documents),
      counts AS (SELECT g, w, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      totals AS (SELECT g, SUM(c) AS tot, COUNT(*) AS vocab FROM counts GROUP BY 1)
      SELECT c.g AS source, CAST(MIN(t.tot) AS BIGINT) AS n_tokens,
        MIN(t.vocab) AS vocab,
        CAST(SUM(CAST(floor(-(CAST(c.c AS DOUBLE) / t.tot)
          * ln(CAST(c.c AS DOUBLE) / t.tot) * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
          AS entropy_e9
      FROM counts c JOIN totals t ON c.g = t.g
      GROUP BY 1 ORDER BY 1"""))

  /** Skip-gram pairs ([[CorpusOps.skipgramPairs]]): window-2 directed
    * co-occurrence counts, support ≥ 20. */
  private val qSkipgrams = QuerySpec(
    "q_skipgrams",
    (s, dir) =>
      CorpusOps.skipgramPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
          window = 2, minPair = 20)
        .orderBy("w1", "w2"),
    Some("""WITH toks AS (SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        FROM documents),
      pos AS (SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS w
        FROM toks),
      pairs AS (SELECT a.w AS w1, b.w AS w2, COUNT(*) AS n
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id AND a.i <> b.i AND abs(a.i - b.i) <= 2
        GROUP BY 1, 2)
      SELECT w1, w2, n FROM pairs WHERE n >= 20 ORDER BY 1, 2"""))

  /** BM25 scoring ([[CorpusOps.bm25]]) for a three-term query; integer
    * quantized per-term contributions. */
  private val qBm25 = QuerySpec(
    "q_bm25",
    (s, dir) =>
      CorpusOps.bm25(t(s, dir, "documents"), col("doc_id"), col("text"),
          Seq("join", "hash", "merge"))
        .orderBy("doc_id"),
    Some("""WITH toks AS (SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        FROM documents),
      dl AS (SELECT doc_id, len(ws) AS dl FROM toks),
      stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
      tf AS (SELECT doc_id, w, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(ws) AS w FROM toks)
        WHERE w IN ('join', 'hash', 'merge') GROUP BY 1, 2),
      dft AS (SELECT w, COUNT(*) AS df_t FROM tf GROUP BY 1),
      scored AS (SELECT tf.doc_id,
          CAST(floor(
            ln((CAST(s.n_docs AS DOUBLE) - df_t + 0.5) / (CAST(df_t AS DOUBLE) + 0.5) + 1.0)
            * CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)
            / (CAST(tf.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(dl.dl AS DOUBLE)
                / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
            * 1e6 + 0.5) AS BIGINT) AS term_e6
        FROM tf JOIN dft ON tf.w = dft.w JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats s)
      SELECT doc_id, COUNT(*) AS n_terms,
        CAST(SUM(term_e6) AS BIGINT) AS score_e6
      FROM scored GROUP BY 1 ORDER BY 1"""))

  /** Weighted sampling ([[SortOps.weightedPrioritySample]]): 100 documents
    * drawn without replacement, inclusion odds proportional-ish to length
    * — the Efraimidis–Spirakis exponential race on md5-derived uniforms,
    * reproduced term-for-term by the oracle. */
  private val qWeightedSample = QuerySpec(
    "q_weighted_sample",
    (s, dir) =>
      SortOps.weightedPrioritySample(
          t(s, dir, "documents").select("doc_id", "n_chars"),
          col("doc_id"), col("n_chars"), k = 100)
        .select("doc_id", "n_chars")
        .orderBy("doc_id"),
    Some("""SELECT doc_id, n_chars FROM (
        SELECT doc_id, n_chars,
          -ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
            + 1.0) / 4294967296.0) / CAST(n_chars AS DOUBLE) AS key
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
        ORDER BY key LIMIT 100)
      ORDER BY doc_id"""))

  /** Ordered group-concat (the GROUP_CONCAT / string_agg reporting
    * surface): per nation, its suppliers' names in one sorted
    * comma-joined string. sort_array makes the concatenation
    * order-independent of partitioning. */
  private val qGroupConcat = QuerySpec(
    "q_group_concat",
    (s, dir) =>
      t(s, dir, "supplier")
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"),
          array_join(sort_array(collect_list(col("s_name"))), ",").as("names"))
        .orderBy("nationkey"),
    Some("""SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp,
        string_agg(s_name, ',' ORDER BY s_name) AS names
      FROM supplier GROUP BY 1 ORDER BY 1"""))

  /** Column profiling (the ANALYZE-style stats sweep a catalog runs):
    * per-column null count, distinct count, and lexicographic min/max,
    * one aggregation pass over the table, unpivoted to a row per column. */
  private val qProfile = QuerySpec(
    "q_profile",
    (s, dir) => {
      // one pass PER column, not one multi-distinct pass: each scan prunes
      // to a single parquet column and ndv comes from a two-phase hash agg
      // (map-side partials on low-cardinality keys), where the combined
      // form plans an Expand that multiplies every row by #columns — 2.9s
      // vs 0.4s at sf0.1, and the gap widens with width at scale
      val li = t(s, dir, "lineitem")
      val cols = Seq("l_returnflag", "l_linestatus", "l_shipdate")
      cols.map { c =>
          li.groupBy(col(c).cast("string").as("v"))
            .agg(count(lit(1)).as("cnt"))
            .agg(coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L))
                .as("n_nulls"),
              count(col("v")).as("ndv"),
              min(col("v")).as("min_val"), max(col("v")).as("max_val"))
            .select(lit(c).as("column_name"), col("n_nulls"), col("ndv"),
              col("min_val"), col("max_val"))
        }
        .reduce(_ unionAll _)
        .orderBy("column_name")
    },
    Some("""SELECT column_name, n_nulls, ndv, min_val, max_val FROM (
        SELECT 'l_returnflag' AS column_name,
          CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
          COUNT(DISTINCT l_returnflag) AS ndv,
          MIN(CAST(l_returnflag AS VARCHAR)) AS min_val,
          MAX(CAST(l_returnflag AS VARCHAR)) AS max_val FROM lineitem
        UNION ALL
        SELECT 'l_linestatus',
          CAST(SUM(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          COUNT(DISTINCT l_linestatus),
          MIN(CAST(l_linestatus AS VARCHAR)), MAX(CAST(l_linestatus AS VARCHAR))
        FROM lineitem
        UNION ALL
        SELECT 'l_shipdate',
          CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          COUNT(DISTINCT l_shipdate),
          MIN(CAST(l_shipdate AS VARCHAR)), MAX(CAST(l_shipdate AS VARCHAR))
        FROM lineitem) t
      ORDER BY column_name"""))

  /** Last-touch attribution ([[AnalyticsOps.lastTouchAttribution]]):
    * purchases credit the user's most recent non-purchase event within 30
    * minutes; stale/absent touches fall to 'none'. */
  private val qAttribution = QuerySpec(
    "q_attribution",
    (s, dir) =>
      AnalyticsOps.lastTouchAttribution(t(s, dir, "events"), col("user_id"),
        col("ts"), col("event_type"), col("event_id"),
        conversion = "purchase", windowUs = 1800000000L),
    Some("""WITH touches AS (SELECT user_id AS key, ts AS touch_t,
          max_by(event_type, event_id) AS touch_s
        FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2),
      conv AS (SELECT user_id AS key, ts AS t FROM events
        WHERE event_type = 'purchase')
      SELECT channel, COUNT(*) AS n_conversions FROM (
        SELECT CASE WHEN touch_s IS NOT NULL
            AND date_diff('microsecond', touch_t, t) <= 1800000000
          THEN touch_s ELSE 'none' END AS channel
        FROM conv ASOF LEFT JOIN touches
          ON conv.key = touches.key AND conv.t >= touches.touch_t) c
      GROUP BY 1 ORDER BY 1"""))

  /** Time-weighted gauge mean ([[AnalyticsOps.timeWeightedMean]]): value
    * holds until the type's next event; exact integer-decimal sums. */
  private val qTimeWeighted = QuerySpec(
    "q_time_weighted",
    (s, dir) =>
      AnalyticsOps.timeWeightedMean(t(s, dir, "events"), col("event_type"),
          col("ts"), col("value"), col("event_id"))
        .select(col("k").as("event_type"), col("n_intervals"),
          col("dur_us"), col("twm_e6")),
    Some("""WITH seq AS (SELECT event_type AS k, ts, value, event_id,
          lead(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nt
        FROM events),
      iv AS (SELECT k, date_diff('microsecond', ts, nt) AS dur_us,
          CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v_e6
        FROM seq WHERE nt IS NOT NULL)
      SELECT k AS event_type, COUNT(*) AS n_intervals,
        CAST(SUM(dur_us) AS BIGINT) AS dur_us,
        CAST(floor(CAST(SUM(CAST(v_e6 AS HUGEINT) * dur_us) AS DOUBLE)
          / CAST(SUM(dur_us) AS DOUBLE) + 0.5) AS BIGINT) AS twm_e6
      FROM iv GROUP BY 1 ORDER BY 1"""))

  /** Seasonal baseline ([[QualityOps.seasonalBaseline]]): hour-of-day
    * traffic z-scores per event type from exact integer moments. */
  private val qSeasonal = QuerySpec(
    "q_seasonal",
    (s, dir) =>
      QualityOps.seasonalBaseline(t(s, dir, "events"), col("event_type"), col("ts"))
        .select(col("k").as("event_type"), col("hour").cast("long").as("hour"),
          col("n"), col("z_e6")),
    Some("""WITH cells AS (SELECT event_type AS k, hour(ts) AS h, COUNT(*) AS n
        FROM events GROUP BY 1, 2),
      grid AS (SELECT ks.k, g.h FROM (SELECT DISTINCT k FROM cells) ks,
        (SELECT unnest(range(0, 24)) AS h) g),
      dense AS (SELECT grid.k, grid.h, COALESCE(c.n, 0) AS n
        FROM grid LEFT JOIN cells c ON grid.k = c.k AND grid.h = c.h),
      prof AS (SELECT k, h, n,
          CAST(SUM(n) OVER (PARTITION BY k) AS DOUBLE) / 24.0 AS mean_n
        FROM dense),
      p2 AS (SELECT k, h, n, mean_n,
          CAST(floor((n - mean_n) * (n - mean_n) * 1e6 + 0.5) AS BIGINT) AS dev2
        FROM prof),
      st AS (SELECT k, CAST(SUM(dev2) AS BIGINT) AS var24 FROM p2 GROUP BY 1)
      SELECT p2.k AS event_type, CAST(p2.h AS BIGINT) AS hour,
        CAST(p2.n AS BIGINT) AS n,
        CASE WHEN st.var24 = 0 THEN 0
          ELSE CAST(floor((p2.n - p2.mean_n)
            / sqrt(CAST(st.var24 AS DOUBLE) / 1e6 / 24.0) * 1e6 + 0.5) AS BIGINT)
        END AS z_e6
      FROM p2 JOIN st ON p2.k = st.k ORDER BY 1, 2"""))

  /** Funnel conversion lags ([[AnalyticsOps.funnelLags]]): median
    * step-to-step time for the view→click→purchase funnel. */
  private val qFunnelLag = QuerySpec(
    "q_funnel_lag",
    (s, dir) =>
      AnalyticsOps.funnelLags(t(s, dir, "events"), col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase")),
    Some("""WITH s1 AS (SELECT user_id AS u, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT s1.u, MIN(e.ts) AS t2 FROM s1 JOIN events e
        ON e.user_id = s1.u AND e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY 1),
      s3 AS (SELECT s2.u, MIN(e.ts) AS t3 FROM s2 JOIN events e
        ON e.user_id = s2.u AND e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY 1)
      SELECT * FROM (
        SELECT CAST(2 AS BIGINT) AS step_idx, 'view->click' AS transition,
          COUNT(*) AS n_users,
          CAST(floor(quantile_cont(date_diff('microsecond', s1.t1, s2.t2), 0.5)
            + 0.5) AS BIGINT) AS med_lag_us
        FROM s1 JOIN s2 ON s1.u = s2.u
        UNION ALL
        SELECT CAST(3 AS BIGINT), 'click->purchase', COUNT(*),
          CAST(floor(quantile_cont(date_diff('microsecond', s2.t2, s3.t3), 0.5)
            + 0.5) AS BIGINT)
        FROM s2 JOIN s3 ON s2.u = s3.u) f
      ORDER BY step_idx"""))

  /** Substring-level duplicate spans ([[DedupOps.repeatedSpans]]): every
    * 8-token window hashed; per-doc duplicated-span coverage. */
  private val qRepeatedSpans = QuerySpec(
    "q_repeated_spans",
    (s, dir) =>
      DedupOps.repeatedSpans(t(s, dir, "documents"), col("doc_id"), col("text"),
          k = 8, minDocs = 2)
        .orderBy("doc_id"),
    Some("""WITH base AS (SELECT doc_id, len(t) - 7 AS n_spans, t
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) x
        WHERE len(t) >= 8),
      spans AS (SELECT doc_id,
          unnest(list_transform(generate_series(1, len(t) - 7),
            i -> md5(array_to_string(t[i:i+7], ' ')))) AS h
        FROM base),
      rep AS (SELECT h, COUNT(*) AS n_docs
        FROM (SELECT DISTINCT doc_id, h FROM spans) d
        GROUP BY 1 HAVING COUNT(*) >= 2),
      dup AS (SELECT s.doc_id, COUNT(*) AS dup_spans,
          MAX(r.n_docs) AS max_span_docs
        FROM spans s JOIN rep r ON s.h = r.h GROUP BY 1)
      SELECT b.doc_id, CAST(b.n_spans AS BIGINT) AS n_spans,
        CAST(COALESCE(d.dup_spans, 0) AS BIGINT) AS dup_spans,
        CAST(COALESCE(d.max_span_docs, 0) AS BIGINT) AS max_span_docs,
        CAST(floor(COALESCE(d.dup_spans, 0) * 1e6 / b.n_spans + 0.5) AS BIGINT)
          AS dup_ratio_e6
      FROM base b LEFT JOIN dup d ON b.doc_id = d.doc_id
      ORDER BY b.doc_id"""))

  /** Span excision ([[DedupOps.removeRepeatedSpans]]) — the TRANSFORM
    * half of substring dedup: every token covered by an 8-token window
    * duplicated across ≥2 documents is cut out, and the oracle rebuilds
    * every cleaned document STRING in SQL (list-lambda replay of the
    * coverage test), so the hash pins the exact excision boundaries,
    * not just the counts. */
  private val qSpanExcision = QuerySpec(
    "q_span_excision",
    (s, dir) =>
      DedupOps.removeRepeatedSpans(t(s, dir, "documents"), col("doc_id"),
          col("text"), k = 8, minDocs = 2)
        .orderBy("doc_id"),
    Some("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS t,
          len(string_split(text, ' ')) AS n FROM documents),
      spans AS (SELECT doc_id, i, md5(array_to_string(t[i:i+7], ' ')) AS h
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
              FROM base WHERE n >= 8) x),
      rep AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS c
              FROM spans GROUP BY 1) r WHERE c >= 2),
      dup AS (SELECT doc_id, list_sort(list(i)) AS ps FROM spans
        WHERE h IN (SELECT h FROM rep) GROUP BY 1),
      kept AS (SELECT b.doc_id, b.t, b.n,
          CASE WHEN d.ps IS NULL THEN generate_series(1, b.n)
               ELSE list_filter(generate_series(1, b.n),
                 j -> len(list_filter(d.ps,
                        p -> p >= j - 7 AND p <= j)) = 0) END AS ki
        FROM base b LEFT JOIN dup d USING (doc_id))
      SELECT doc_id,
        COALESCE(array_to_string(list_transform(ki, j -> t[j]), ' '), '')
          AS clean_text,
        CAST(n AS BIGINT) AS n_tokens,
        CAST(len(ki) AS BIGINT) AS kept_tokens
      FROM kept ORDER BY doc_id"""))

  /** Snapshot reconciliation ([[QualityOps.snapshotDiff]]): the after
    * snapshot is derived from orders deterministically (keys mod 97
    * removed, prices mod 13 bumped, statuses mod 17 flipped, keys mod 89
    * re-inserted under shifted ids) so both engines classify the same
    * add/remove/change set. */
  private val qTableDiff = QuerySpec(
    "q_table_diff",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val kept = o.filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          when(col("o_orderkey") % 17 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"))
      val added = o.filter(col("o_orderkey") % 89 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_totalprice"), col("o_orderstatus"))
      QualityOps.snapshotDiff(o, kept.unionByName(added), "o_orderkey",
        Seq("o_totalprice", "o_orderstatus"))
    },
    Some("""WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p,
          o_orderstatus AS st FROM orders),
      aft AS (
        SELECT k, CASE WHEN k % 13 = 0 THEN p + 1 ELSE p END AS p,
          CASE WHEN k % 17 = 0 THEN 'X' ELSE st END AS st
        FROM o WHERE k % 97 <> 0
        UNION ALL
        SELECT k + 100000000, p, st FROM o WHERE k % 89 = 0),
      j AS (SELECT COALESCE(a.k, b.k) AS k,
          CASE WHEN b.k IS NULL THEN 'added'
            WHEN a.k IS NULL THEN 'removed'
            WHEN (b.p IS NOT DISTINCT FROM a.p)
              AND (b.st IS NOT DISTINCT FROM a.st) THEN 'unchanged'
            ELSE 'changed' END AS status,
          CASE WHEN b.k IS NOT NULL AND a.k IS NOT NULL
            AND (b.p IS DISTINCT FROM a.p) THEN 1 ELSE 0 END AS dp,
          CASE WHEN b.k IS NOT NULL AND a.k IS NOT NULL
            AND (b.st IS DISTINCT FROM a.st) THEN 1 ELSE 0 END AS ds
        FROM o b FULL OUTER JOIN aft a ON b.k = a.k)
      SELECT status, COUNT(*) AS n_rows, CAST(SUM(k) AS BIGINT) AS key_sum,
        CAST(SUM(dp) AS BIGINT) AS chg_o_totalprice,
        CAST(SUM(ds) AS BIGINT) AS chg_o_orderstatus
      FROM j GROUP BY 1 ORDER BY 1"""))

  /** A/B two-proportion z-test ([[AnalyticsOps.abTest]]): hash-split
    * variants, first-view entry, strictly-later purchase conversion. */
  private val qAbTest = QuerySpec(
    "q_ab_test",
    (s, dir) =>
      AnalyticsOps.abTest(t(s, dir, "events"), col("user_id"), col("ts"),
        col("event_type"), exposure = "view", conversion = "purchase",
        windowUs = 21600000000L),
    Some("""WITH ex AS (SELECT user_id AS u, MIN(ts) AS t0 FROM events
          WHERE event_type = 'view' GROUP BY 1),
      conv AS (SELECT DISTINCT ex.u FROM ex JOIN events e
        ON e.user_id = ex.u AND e.event_type = 'purchase' AND e.ts > ex.t0
        AND date_diff('microsecond', ex.t0, e.ts) <= 21600000000),
      per AS (SELECT ex.u % 2 AS variant, COUNT(*) AS n,
          SUM(CASE WHEN c.u IS NOT NULL THEN 1 ELSE 0 END) AS cv
        FROM ex LEFT JOIN conv c ON ex.u = c.u GROUP BY 1),
      w AS (SELECT
          MAX(CASE WHEN variant = 0 THEN n END) AS n0,
          MAX(CASE WHEN variant = 0 THEN cv END) AS c0,
          MAX(CASE WHEN variant = 1 THEN n END) AS n1,
          MAX(CASE WHEN variant = 1 THEN cv END) AS c1 FROM per)
      SELECT CAST(n0 AS BIGINT) AS n0, CAST(c0 AS BIGINT) AS c0,
        CAST(n1 AS BIGINT) AS n1, CAST(c1 AS BIGINT) AS c1,
        CAST(floor(CAST(c0 AS DOUBLE) / n0 * 1e6 + 0.5) AS BIGINT) AS rate0_e6,
        CAST(floor(CAST(c1 AS DOUBLE) / n1 * 1e6 + 0.5) AS BIGINT) AS rate1_e6,
        CASE WHEN c0 + c1 = 0 OR c0 + c1 = n0 + n1 THEN 0
          ELSE CAST(floor((CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
            / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
              * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
              * (1.0 / n0 + 1.0 / n1)) * 1e6 + 0.5) AS BIGINT) END AS z_e6
      FROM w"""))

  /** DSIR importance weights ([[CorpusOps.importanceWeights]]): hashed-
    * unigram log-likelihood-ratio scores with the `lang = 'en'` documents
    * as the target distribution, 256 buckets, add-1 smoothing. */
  private val qImportanceWeights = QuerySpec(
    "q_importance_weights",
    (s, dir) =>
      CorpusOps.importanceWeights(t(s, dir, "documents"), col("doc_id"),
          col("text"), col("lang") === lit("en"), nBuckets = 256, alpha = 1.0)
        .orderBy("doc_id"),
    Some("""WITH b AS (SELECT doc_id, lang = 'en' AS is_target,
          CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 256 AS g
        FROM (SELECT doc_id, lang,
            unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS w
          FROM documents)),
      dist AS (SELECT g,
          CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS p_g,
          CAST(SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS q_g
        FROM b GROUP BY 1),
      tot AS (SELECT CAST(SUM(p_g) AS BIGINT) AS p_tot,
          CAST(SUM(q_g) AS BIGINT) AS q_tot FROM dist),
      lr AS (SELECT g,
          ln((CAST(p_g AS DOUBLE) + 1.0) / (CAST(p_tot AS DOUBLE) + 256.0))
          - ln((CAST(q_g AS DOUBLE) + 1.0) / (CAST(q_tot AS DOUBLE) + 256.0)) AS lr
        FROM dist CROSS JOIN tot),
      dg AS (SELECT doc_id, g, COUNT(*) AS c FROM b GROUP BY 1, 2)
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
        CAST(SUM(CAST(floor(CAST(c AS DOUBLE) * lr * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
          AS weight_e6
      FROM dg JOIN lr USING (g) GROUP BY 1 ORDER BY 1"""))

  /** k-anonymity audit ([[QualityOps.kAnonymity]]): customer equivalence
    * classes under (nationkey, mktsegment), k = 15. */
  private val qKAnonymity = QuerySpec(
    "q_k_anonymity",
    (s, dir) =>
      QualityOps.kAnonymity(t(s, dir, "customer"),
          Seq(col("c_nationkey").as("nationkey"), col("c_mktsegment").as("segment")),
          k = 15)
        .orderBy("nationkey", "segment"),
    Some("""SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
        COUNT(*) AS class_size, COUNT(*) < 15 AS at_risk
      FROM customer GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** l-diversity audit ([[QualityOps.lDiversity]]): order classes under
    * (status, priority) with o_custkey as the sensitive attribute, l = 10. */
  private val qLDiversity = QuerySpec(
    "q_l_diversity",
    (s, dir) =>
      QualityOps.lDiversity(t(s, dir, "orders"),
          Seq(col("o_orderstatus").as("status"), col("o_orderpriority").as("priority")),
          col("o_custkey"), l = 10)
        .orderBy("status", "priority"),
    Some("""SELECT o_orderstatus AS status, o_orderpriority AS priority,
        COUNT(*) AS class_size, COUNT(DISTINCT o_custkey) AS n_sensitive,
        COUNT(DISTINCT o_custkey) < 10 AS below_l
      FROM orders GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** SemDeDup semantic dedup ([[SimilarityOps.semanticDedup]]): 16 seed
    * cells, within-cell cosine ≥ 0.35 drops the higher id. `maxCell = 16`
    * is deliberately below the ~31-member gate cells so the driver gate
    * exercises the hot-cell sub-split path (md5(vec_id) mod ⌈size/16⌉),
    * mirrored term-for-term in the oracle. */
  private val qSemanticDedup = QuerySpec(
    "q_semantic_dedup",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.semanticDedup(emb,
        emb.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
        tau = 0.35, maxCell = 16)
        .orderBy("vec_id")
    },
    Some("""WITH c0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
        FROM embeddings WHERE vec_id < 16),
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dvec FROM embeddings),
      scored AS (SELECT v.vec_id, c0.cid,
          ROUND(list_dot_product(dvec, cvec) /
            (sqrt(list_dot_product(dvec, dvec)) *
             sqrt(list_dot_product(cvec, cvec))), 6) AS sim
        FROM v, c0),
      assigned AS (SELECT vec_id, cid FROM (
          SELECT vec_id, cid, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
          FROM scored) t
        WHERE rn = 1),
      sizes AS (SELECT cid, COUNT(*) AS csz FROM assigned GROUP BY 1),
      m AS (SELECT a.cid, a.vec_id, v.dvec,
          CAST('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 8) AS BIGINT) %
            GREATEST(CAST(ceil(CAST(s.csz AS DOUBLE) / 16.0) AS BIGINT), 1) AS sub
        FROM assigned a JOIN v USING (vec_id) JOIN sizes s USING (cid)),
      dropped AS (SELECT DISTINCT y.vec_id FROM m x JOIN m y
        ON x.cid = y.cid AND x.sub = y.sub AND x.vec_id < y.vec_id
        AND ROUND(list_dot_product(x.dvec, y.dvec) /
          (sqrt(list_dot_product(x.dvec, x.dvec)) *
           sqrt(list_dot_product(y.dvec, y.dvec))), 6) >= 0.35)
      SELECT a.vec_id, a.cid, d.vec_id IS NULL AS kept
      FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
      ORDER BY a.vec_id"""))

  /** TPC-H Q3 shape (shipping priority) on the synthetic star schema:
    * three-table join, filter on both fact sides, top-10 by exact-decimal
    * revenue. The dims prune at the scan and broadcast under AQE; the
    * orders–lineitem join shuffles on the order key only. */
  private val qTpchQ3 = QuerySpec(
    "q_tpch_q3",
    (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === lit("BUILDING"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < to_timestamp(lit("1999-03-15")))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > to_timestamp(lit("1999-03-15")))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    },
    Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
        CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE)
          AS revenue
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1999-03-15'
        AND l_shipdate > TIMESTAMP '1999-03-15'
      GROUP BY 1, 2, 3 ORDER BY revenue DESC, o_orderdate, l_orderkey
      LIMIT 10"""))

  /** TPC-H Q5 shape (local supplier volume): six-table join where customer
    * and supplier must share a nation, region-filtered, one order-date
    * year. region/nation/customer/supplier all broadcast; the only big
    * shuffle is orders–lineitem. */
  private val qTpchQ5 = QuerySpec(
    "q_tpch_q5",
    (s, dir) => {
      val r = t(s, dir, "region").filter(col("r_name") === lit("ASIA"))
      val n = t(s, dir, "nation")
        .join(r, col("n_regionkey") === col("r_regionkey"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      t(s, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some("""SELECT n_name,
        CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE)
          AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY 1 ORDER BY revenue DESC, n_name"""))

  /** TPC-H Q10 shape (returned-item reporting): revenue lost to returns
    * per customer over one quarter, top 20. Customer/nation broadcast;
    * the returnflag filter prunes lineitem at the scan. */
  private val qTpchQ10 = QuerySpec(
    "q_tpch_q10",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1999-10-01")) &&
          col("o_orderdate") < to_timestamp(lit("2000-01-01")))
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === lit("R"))
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    Some("""SELECT c_custkey, c_name, c_acctbal, n_name,
        CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE)
          AS revenue
      FROM customer, orders, lineitem, nation
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate >= TIMESTAMP '1999-10-01'
        AND o_orderdate < TIMESTAMP '2000-01-01'
        AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      GROUP BY 1, 2, 3, 4 ORDER BY revenue DESC, c_custkey LIMIT 20"""))

  /** Multi-source BFS hop distances ([[GraphOps.bfsHops]]) over the
    * part↔supplier bipartite graph (undirected), seeded at part keys ≤ 3,
    * four hops. The oracle is a recursive CTE that re-derives min hop
    * distance: the frontier BFS's first-seen hop equals the minimum over
    * all ≤ maxHops paths, which is exactly `MIN(hops)` over the CTE's
    * bounded expansion. */
  private val qBfsHops = QuerySpec(
    "q_bfs_hops",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = li.select(col("l_partkey").cast("long").as("src"),
        (lit(1000000000L) + col("l_suppkey")).cast("long").as("dst"))
      val seeds = li.filter(col("l_partkey") <= 3)
        .select(col("l_partkey").as("node")).distinct()
      GraphOps.bfsHops(edges, seeds, maxHops = 4).orderBy("node")
    },
    Some("""WITH RECURSIVE und AS (
        SELECT DISTINCT l_partkey AS u, 1000000000 + l_suppkey AS v FROM lineitem),
      adj AS (SELECT u, v FROM und UNION SELECT v AS u, u AS v FROM und),
      seeds AS (SELECT DISTINCT l_partkey AS node FROM lineitem
        WHERE l_partkey <= 3),
      bfs(node, hops) AS (
        SELECT node, 0 AS hops FROM seeds
        UNION
        SELECT a.v AS node, b.hops + 1 AS hops
        FROM bfs b JOIN adj a ON a.u = b.node
        WHERE b.hops < 4)
      SELECT node, CAST(MIN(hops) AS BIGINT) AS hops
      FROM bfs GROUP BY 1 ORDER BY 1"""))

  /** Deterministic random walks ([[GraphOps.randomWalks]]): one walk per
    * part key ≤ 5 over the part↔supplier graph, three steps. The oracle
    * replays the md5-argmin successor rule step by step — the walk is a
    * pure function of the graph, so DuckDB re-derives it exactly. */
  private val qRandomWalks = QuerySpec(
    "q_random_walks",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = li.select(col("l_partkey").cast("long").as("src"),
        (lit(1000000000L) + col("l_suppkey")).cast("long").as("dst"))
      val seeds = li.filter(col("l_partkey") <= 5)
        .select(col("l_partkey").as("node")).distinct()
      GraphOps.randomWalks(edges, seeds, steps = 3).orderBy("walk_id", "step")
    },
    Some("""WITH und AS (
        SELECT DISTINCT l_partkey AS u, 1000000000 + l_suppkey AS v FROM lineitem),
      adj AS (SELECT u, v FROM und UNION SELECT v AS u, u AS v FROM und),
      seeds AS (SELECT DISTINCT l_partkey AS walk_id FROM lineitem
        WHERE l_partkey <= 5),
      p0 AS (SELECT walk_id, 0 AS step, walk_id AS node FROM seeds),
      p1 AS (SELECT p.walk_id, 1 AS step, arg_min(a.v,
          md5(CAST(p.walk_id AS VARCHAR) || '|1|' || CAST(a.v AS VARCHAR))) AS node
        FROM p0 p JOIN adj a ON a.u = p.node GROUP BY 1),
      p2 AS (SELECT p.walk_id, 2 AS step, arg_min(a.v,
          md5(CAST(p.walk_id AS VARCHAR) || '|2|' || CAST(a.v AS VARCHAR))) AS node
        FROM p1 p JOIN adj a ON a.u = p.node GROUP BY 1),
      p3 AS (SELECT p.walk_id, 3 AS step, arg_min(a.v,
          md5(CAST(p.walk_id AS VARCHAR) || '|3|' || CAST(a.v AS VARCHAR))) AS node
        FROM p2 p JOIN adj a ON a.u = p.node GROUP BY 1)
      SELECT walk_id, step, node FROM (
        SELECT * FROM p0 UNION ALL SELECT * FROM p1
        UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3) w
      ORDER BY walk_id, step"""))

  /** Weighted shortest paths ([[GraphOps.shortestPaths]]): four
    * Bellman-Ford rounds over the part↔supplier graph with a functional
    * edge weight (1 + ((u+v) mod 97)/97 — symmetric, engine-replayable),
    * seeded at part keys ≤ 3. The oracle unrolls the same four min-fold
    * rounds in SQL; MIN over identical IEEE path sums is
    * order-independent, so distances match bit-for-bit (released as
    * scaled longs). */
  private val qSssp = QuerySpec(
    "q_sssp",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = li.select(col("l_partkey").cast("long").as("src"),
          (lit(1000000000L) + col("l_suppkey")).cast("long").as("dst"))
        .withColumn("w", lit(1.0) +
          ((col("src") + col("dst")) % 97).cast("double") / lit(97.0))
      val seeds = li.filter(col("l_partkey") <= 3)
        .select(col("l_partkey").as("node")).distinct()
      GraphOps.shortestPaths(edges, seeds, iters = 4)
        .select(col("node"),
          floor(col("dist") * lit(1e6) + lit(0.5)).cast("long").as("dist_e6"))
        .orderBy("node")
    },
    Some("""WITH und AS (
        SELECT DISTINCT l_partkey AS u, 1000000000 + l_suppkey AS v
        FROM lineitem),
      adj0 AS (SELECT u, v FROM und UNION SELECT v AS u, u AS v FROM und),
      adj AS (SELECT u, v,
          1.0 + CAST((u + v) % 97 AS DOUBLE) / 97.0 AS w FROM adj0),
      d0 AS (SELECT DISTINCT l_partkey AS node, 0.0 AS dist FROM lineitem
        WHERE l_partkey <= 3),
      d1 AS (SELECT node, MIN(dist) AS dist FROM (
          SELECT node, dist FROM d0
          UNION ALL
          SELECT a.v, d.dist + a.w FROM d0 d JOIN adj a ON a.u = d.node) x
        GROUP BY 1),
      d2 AS (SELECT node, MIN(dist) AS dist FROM (
          SELECT node, dist FROM d1
          UNION ALL
          SELECT a.v, d.dist + a.w FROM d1 d JOIN adj a ON a.u = d.node) x
        GROUP BY 1),
      d3 AS (SELECT node, MIN(dist) AS dist FROM (
          SELECT node, dist FROM d2
          UNION ALL
          SELECT a.v, d.dist + a.w FROM d2 d JOIN adj a ON a.u = d.node) x
        GROUP BY 1),
      d4 AS (SELECT node, MIN(dist) AS dist FROM (
          SELECT node, dist FROM d3
          UNION ALL
          SELECT a.v, d.dist + a.w FROM d3 d JOIN adj a ON a.u = d.node) x
        GROUP BY 1)
      SELECT node, CAST(floor(dist * 1e6 + 0.5) AS BIGINT) AS dist_e6
      FROM d4 ORDER BY node"""))

  /** t-closeness audit ([[QualityOps.tCloseness]]): per-source sensitive
    * distribution (lang) vs the corpus, one-sided TVD released as exact
    * scaled-long `tvd_e6`, t = 0.05. */
  private val qTCloseness = QuerySpec(
    "q_t_closeness",
    (s, dir) =>
      QualityOps.tCloseness(t(s, dir, "documents"), Seq(col("source")),
          col("lang"), t = 0.05)
        .orderBy("source"),
    Some("""WITH cell AS (SELECT source, lang AS sv, COUNT(*) AS n
        FROM documents GROUP BY 1, 2),
      tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM cell),
      g AS (SELECT sv, CAST(SUM(n) AS DOUBLE) / (SELECT t FROM tot) AS gq
        FROM cell GROUP BY 1),
      cs AS (SELECT source, CAST(SUM(n) AS BIGINT) AS class_size
        FROM cell GROUP BY 1),
      agg AS (SELECT c.source, cs.class_size,
          CAST(floor(CAST(SUM(CAST(floor(GREATEST(
              CAST(c.n AS DOUBLE) / CAST(cs.class_size AS DOUBLE) - g.gq,
              0.0) * 1e15 + 0.5) AS BIGINT)) AS DOUBLE)
            / 1e15 * 1e6 + 0.5) AS BIGINT) AS tvd_e6
        FROM cell c JOIN g ON c.sv = g.sv JOIN cs ON c.source = cs.source
        GROUP BY 1, 2)
      SELECT source, class_size, tvd_e6, tvd_e6 > 50000 AS above_t
      FROM agg ORDER BY source"""))

  /** DP noisy-count release ([[QualityOps.dpNoisyCounts]]): per-lang doc
    * counts with deterministic seeded-hash Laplace(1/ε) noise, ε = 0.8,
    * stability threshold 5 — the noise is a pure function of (seed, key),
    * so the oracle re-derives the release exactly. */
  private val qDpNoisyCounts = QuerySpec(
    "q_dp_noisy_counts",
    (s, dir) =>
      QualityOps.dpNoisyCounts(t(s, dir, "documents"), col("lang"),
          epsilon = 0.8, seed = "graft-r7", threshold = 5.0)
        .orderBy("k"),
    Some("""WITH c AS (SELECT lang AS k, COUNT(*) AS n FROM documents GROUP BY 1),
      u AS (SELECT k, n,
          (CAST(CAST('0x' || substr(md5('graft-r7|' || k), 1, 8) AS BIGINT)
            AS DOUBLE) + 1.0) / 4294967298.0 - 0.5 AS uu
        FROM c),
      rel AS (SELECT k,
          CAST(floor((n - sign(uu) * ln(1.0 - 2.0 * abs(uu)) / 0.8) * 1e6 + 0.5)
            AS BIGINT) AS noisy_e6
        FROM u)
      SELECT k, noisy_e6 FROM rel WHERE noisy_e6 >= 5000000 ORDER BY k"""))

  /** Indexed archive random access ([[graft.sources.Har]]): 40 per-doc
    * files mastered from documents, packed into 4 blobs + parquet index,
    * then EVERY entry read back individually through the index
    * (seek+read, no unpack) — name, byte length, and payload md5 must
    * round-trip. Oracle recomputes all three from the source table
    * (DuckDB strlen/md5 are UTF-8-byte semantics, same as the archived
    * bytes). */
  private val qHarLookup = QuerySpec(
    "q_har_lookup",
    (s, dir) => {
      val src = Graft.scratch(dir, "har_src")
      val arch = Graft.scratch(dir, "har_arc")
      // fixture mastering: 40 tiny one-doc files (driver-side by design —
      // this builds the small-file INPUT the archive operator exists for)
      val docs = t(s, dir, "documents").filter(col("doc_id") < 40)
        .select("doc_id", "text").collect()
      new java.io.File(src).mkdirs()
      docs.foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$src/doc_${r.getLong(0)}.txt"),
          r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      graft.sources.Har.archive(s, src, arch, blobs = 4)
      val wanted = docs.map(r => s"doc_${r.getLong(0)}.txt").sorted.toSeq
      val fetched = graft.sources.Har.readEntries(s, arch, wanted)
      val entries = wanted.map { name =>
        (name, fetched.getOrElse(name, sys.error(s"archived entry missing: $name")))
      }
      import s.implicits._
      entries.toDF("name", "content")
        .select(col("name"), length(col("content")).cast("long").as("n_bytes"),
          md5(col("content")).as("payload_md5"))
        .orderBy("name")
    },
    Some("""SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS name,
        CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS payload_md5
      FROM documents WHERE doc_id < 40 ORDER BY name"""))

  /** Typed-bytes pipe UDF ([[graft.functions.TypedBytes.pipe]]): documents
    * framed in the reference's binary wire format through an external
    * identity command and decoded back — tab/newline/unicode payloads must
    * survive byte-identically (the failure mode line-oriented framing
    * exists to avoid). Oracle recomputes the md5 from the source rows. */
  private val qPipeTypedBytes = QuerySpec(
    "q_pipe_typedbytes",
    (s, dir) => {
      val out = graft.functions.TypedBytes.pipe(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        Seq("cat"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id LONG, text STRING"))
      out.select(col("doc_id"), md5(col("text").cast("binary")).as("payload_md5"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, md5(text) AS payload_md5
      FROM documents ORDER BY doc_id"""))

  /** Kaplan-Meier survival curves ([[AnalyticsOps.kaplanMeier]]):
    * time-to-purchase after signup per user, right-censored at the corpus
    * horizon for users who never purchase, day resolution, two cohorts
    * (user id parity). The oracle replays the product-limit estimate with
    * the same quantize-then-exact-sum log discipline, so surv_e6 is
    * bit-identical. */
  private val qKaplanMeier = QuerySpec(
    "q_kaplan_meier",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val s0 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id").as("u")).agg(min(col("ts")).as("t0"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("cu"), col("ts").as("ct"))
      val hz = ev.agg(max(col("ts")).as("h"))
      val durs = s0
        .join(conv, col("u") === col("cu") && col("ct") > col("t0"), "left")
        .groupBy(col("u"), col("t0")).agg(min(col("ct")).as("tp"))
        .crossJoin(broadcast(hz))
        .withColumn("dur_us",
          unix_micros(coalesce(col("tp"), col("h"))) - unix_micros(col("t0")))
        .select(pmod(col("u"), lit(2)).cast("long").as("cohort"),
          expr("dur_us DIV 86400000000").as("t"),
          col("tp").isNotNull.as("e"))
      AnalyticsOps.kaplanMeier(durs, Seq(col("cohort")), col("t"), col("e"))
        .orderBy("cohort", "t")
    },
    Some("""WITH s0 AS (SELECT user_id AS u, MIN(ts) AS t0 FROM events
        WHERE event_type = 'signup' GROUP BY 1),
      hz AS (SELECT MAX(ts) AS h FROM events),
      pu AS (SELECT s0.u, s0.t0, MIN(e.ts) AS tp FROM s0 LEFT JOIN events e
        ON e.user_id = s0.u AND e.event_type = 'purchase' AND e.ts > s0.t0
        GROUP BY 1, 2),
      durs AS (SELECT u % 2 AS cohort,
          (epoch_us(COALESCE(tp, (SELECT h FROM hz))) - epoch_us(t0))
            // 86400000000 AS t,
          tp IS NOT NULL AS e FROM pu),
      at AS (SELECT cohort, t, SUM(CASE WHEN e THEN 1 ELSE 0 END) AS d,
          COUNT(*) AS leave FROM durs GROUP BY 1, 2),
      wr AS (SELECT cohort, t, d, leave,
          SUM(leave) OVER (PARTITION BY cohort) - COALESCE(
            SUM(leave) OVER (PARTITION BY cohort ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        FROM at),
      ev AS (SELECT cohort, t, n_risk, d,
          CASE WHEN n_risk = d THEN -1000000000
            ELSE CAST(floor(ln(CAST(n_risk - d AS DOUBLE) / n_risk) * 1e6
              + 0.5) AS BIGINT) END AS lns_e6
        FROM wr WHERE d > 0),
      cum AS (SELECT cohort, t, n_risk, d,
          SUM(lns_e6) OVER (PARTITION BY cohort ORDER BY t) AS cum_e6
        FROM ev)
      SELECT CAST(cohort AS BIGINT) AS cohort, t,
        CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
        CAST(floor(exp(CAST(cum_e6 AS DOUBLE) / 1e6) * 1e6 + 0.5) AS BIGINT)
          AS surv_e6
      FROM cum ORDER BY cohort, t"""))

  /** Count-min sketch ([[AggOps.cmsCounters]]/[[AggOps.cmsEstimates]]):
    * per-user event frequencies through a 4×64 sketch — small enough that
    * collisions actually occur, so the gate exercises the est ≥ exact
    * overcount path, not just identity. The seeded md5 bucketing is
    * bit-portable, so the oracle rebuilds the identical sketch in SQL and
    * replays the min-over-rows estimate; `over_n = est − n ≥ 0` is the
    * CMS upper-bound contract, hash-checked row by row. */
  private val qCms = QuerySpec(
    "q_cms",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val counters = AggOps.cmsCounters(ev, col("user_id"), "cms7",
        depth = 4, width = 64)
      val est = AggOps.cmsEstimates(counters, ev, col("user_id"), "cms7",
        depth = 4, width = 64)
      val exact = ev.groupBy(col("user_id").cast("string").as("k"))
        .agg(count(lit(1)).as("n"))
      exact.join(est, Seq("k"))
        .select(col("k"), col("n"), col("est_n"),
          (col("est_n") - col("n")).as("over_n"))
        .orderBy("k")
    },
    Some("""WITH rows_ AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events
        WHERE user_id IS NOT NULL),
      rs AS (SELECT unnest(range(4)) AS r),
      cnt AS (SELECT r,
          CAST('0x' || substr(md5('cms7|' || CAST(r AS VARCHAR) || '|' || k),
            1, 8) AS BIGINT) % 64 AS b, CAST(COUNT(*) AS BIGINT) AS c
        FROM rows_ CROSS JOIN rs GROUP BY 1, 2),
      probes AS (SELECT k, r,
          CAST('0x' || substr(md5('cms7|' || CAST(r AS VARCHAR) || '|' || k),
            1, 8) AS BIGINT) % 64 AS b
        FROM (SELECT DISTINCT k FROM rows_) CROSS JOIN rs),
      est AS (SELECT p.k, MIN(COALESCE(c.c, 0)) AS est_n
        FROM probes p LEFT JOIN cnt c ON c.r = p.r AND c.b = p.b GROUP BY 1),
      exact AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM rows_ GROUP BY 1)
      SELECT e.k, e.n, CAST(est.est_n AS BIGINT) AS est_n,
        CAST(est.est_n - e.n AS BIGINT) AS over_n
      FROM exact e JOIN est ON est.k = e.k ORDER BY e.k"""))

  /** Keyed pseudonymization ([[QualityOps.pseudonymize]]): customer name
    * and market segment tokenized under one secret; c_custkey kept as the
    * (already-pseudonymous) join key. The oracle replays the salted-md5
    * token, and the segment group sizes under tokens must equal the
    * original segment group sizes — the join-consistency property the
    * operator exists to preserve. */
  private val qPseudonymize = QuerySpec(
    "q_pseudonymize",
    (s, dir) => {
      val toks = QualityOps.pseudonymize(t(s, dir, "customer"),
        Seq("c_name", "c_mktsegment"), "pii-r7")
      toks.groupBy(col("c_mktsegment").as("seg_token"))
        .agg(count(lit(1)).as("n_customers"),
          countDistinct(col("c_name")).as("n_name_tokens"))
        .orderBy("seg_token")
    },
    Some("""SELECT substr(md5('pii-r7|c_mktsegment|' || c_mktsegment), 1, 16)
          AS seg_token,
        CAST(COUNT(*) AS BIGINT) AS n_customers,
        CAST(COUNT(DISTINCT substr(md5('pii-r7|c_name|' || c_name), 1, 16))
          AS BIGINT) AS n_name_tokens
      FROM customer GROUP BY 1 ORDER BY 1"""))

  /** Incremental aggregation ([[AggOps.partialStats]]/[[AggOps.mergeStats]]
    * /[[AggOps.finalizeStats]]): lineitem arrives as three hash-disjoint
    * batches, each reduced to per-flag state ONCE, states merged, release
    * projected — and the result must equal the direct aggregate over the
    * whole table (the oracle computes only the direct form; the merge path
    * existing on the Spark side is exactly what the gate proves). */
  private val qIncrementalAgg = QuerySpec(
    "q_incremental_agg",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val batches = (0 until 3).map(b => li.filter(
        TextFunctions.portableBucket(col("l_orderkey"), 3) === b))
      val merged = AggOps.mergeStats(batches.map(b =>
        AggOps.partialStats(b, Seq(col("l_returnflag")), col("l_quantity"))))
      AggOps.finalizeStats(merged)
        .select(col("l_returnflag"), col("cnt"),
          round(col("sum_v"), 6).as("sum_qty"),
          col("min_v").as("min_qty"), col("max_v").as("max_qty"),
          round(col("avg_v"), 6).as("avg_qty"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, CAST(COUNT(l_quantity) AS BIGINT) AS cnt,
        round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 6)
          AS sum_qty,
        MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
          / COUNT(l_quantity), 6) AS avg_qty
      FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** TPC-H Q1 shape (pricing summary report): the canonical full-scan
    * aggregate — one pass over lineitem below the ship-date cutoff, eight
    * aggregates over two grouping columns. No join, no window: the whole
    * plan is scan → partial agg → 4-group final agg, the shape that must
    * saturate scan bandwidth at 100 TB. All sums are exact-decimal;
    * averages are exact-sum / count rounded to 6 dp. */
  private val qTpchQ1 = QuerySpec(
    "q_tpch_q1",
    (s, dir) => {
      import AggOps.sumExact
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumExact(col("l_quantity")).as("sum_qty"),
          sumExact(col("l_extendedprice")).as("sum_base_price"),
          sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax"))).as("sum_charge"),
          round(AggOps.avgExact(col("l_quantity")), 6).as("avg_qty"),
          round(AggOps.avgExact(col("l_extendedprice")), 6).as("avg_price"),
          round(AggOps.avgExact(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
          AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6)))
          AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax)
          AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
          / COUNT(l_quantity), 6) AS avg_qty,
        round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
          / COUNT(l_extendedprice), 6) AS avg_price,
        round(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
          / COUNT(l_discount), 6) AS avg_disc,
        CAST(COUNT(*) AS BIGINT) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** TPC-H Q6 shape (forecasting revenue change): tight-range filters on
    * one fact table reduced to a single scalar — the pushdown showcase
    * (all three predicates reach the parquet scan; row-group stats prune
    * on l_shipdate). */
  private val qTpchQ6 = QuerySpec(
    "q_tpch_q6",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(AggOps.sumExact(col("l_extendedprice") * col("l_discount"))
          .as("revenue"),
          count(lit(1)).as("n_lines")),
    Some("""SELECT CAST(SUM(CAST(l_extendedprice*l_discount AS DECIMAL(18,6)))
          AS DOUBLE) AS revenue,
        CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"""))

  /** Per-group OLS trend ([[AnalyticsOps.linearTrend]]): quantity vs
    * ship-day per return flag. The five moments accumulate as exact
    * decimals, so slope/intercept/R² replay bit-identically in the
    * oracle's closed-form arithmetic. */
  private val qLinearTrend = QuerySpec(
    "q_linear_trend",
    (s, dir) =>
      AnalyticsOps.linearTrend(
        t(s, dir, "lineitem"),
        Seq(col("l_returnflag")),
        datediff(col("l_shipdate"), to_date(lit("1995-01-01"))).cast("double"),
        col("l_quantity"))
        .orderBy("l_returnflag"),
    Some("""WITH b AS (SELECT l_returnflag,
        CAST(date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE))
          AS DOUBLE) AS x,
        l_quantity AS y FROM lineitem
        WHERE l_shipdate IS NOT NULL AND l_quantity IS NOT NULL),
      m AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
          CAST(SUM(CAST(x*y AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
          CAST(SUM(CAST(x*x AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
          CAST(SUM(CAST(y*y AS DECIMAL(18,6))) AS DOUBLE) AS syy
        FROM b GROUP BY 1)
      SELECT l_returnflag, n,
        CASE WHEN n >= 2 AND n*sxx - sx*sx != 0
          THEN round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) END AS slope,
        CASE WHEN n >= 2 AND n*sxx - sx*sx != 0
          THEN round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 6)
          END AS intercept,
        CASE WHEN n >= 2 AND n*sxx - sx*sx != 0 AND n*syy - sy*sy != 0
          THEN round((n*sxy - sx*sy) * (n*sxy - sx*sy)
            / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) END AS r2
      FROM m ORDER BY l_returnflag"""))

  /** Anti-entropy bucket checksums ([[QualityOps.bucketChecksums]] +
    * [[QualityOps.checksumDiff]]): orders vs a copy with 3 rows' status
    * flipped — only the buckets hosting those keys may surface, and the
    * oracle re-derives the full (bucket, n, xor-digest) compare in SQL, so
    * the digest math itself is hash-checked, not just the verdict. */
  private val qChecksumDiff = QuerySpec(
    "q_checksum_diff",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val tampered = o.withColumn("o_orderstatus",
        when(col("o_orderkey") <= 3, concat(col("o_orderstatus"), lit("X")))
          .otherwise(col("o_orderstatus")))
      val keys = Seq(col("o_orderkey"))
      val vals = Seq(col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"))
      QualityOps.checksumDiff(
        QualityOps.bucketChecksums(o, keys, vals, buckets = 32),
        QualityOps.bucketChecksums(tampered, keys, vals, buckets = 32))
        .orderBy("bucket")
    },
    Some("""WITH rows_a AS (SELECT
          CAST('0x' || substr(md5(COALESCE(CAST(o_orderkey AS VARCHAR),
            '<null>')), 1, 8) AS BIGINT) % 32 AS bucket,
          CAST('0x' || substr(md5(
            COALESCE(CAST(o_orderkey AS VARCHAR), '<null>') || '|' ||
            COALESCE(CAST(o_custkey AS VARCHAR), '<null>') || '|' ||
            COALESCE(o_orderstatus, '<null>') || '|' ||
            COALESCE(o_orderpriority, '<null>')), 1, 15) AS BIGINT) AS digest
        FROM orders),
      rows_b AS (SELECT
          CAST('0x' || substr(md5(COALESCE(CAST(o_orderkey AS VARCHAR),
            '<null>')), 1, 8) AS BIGINT) % 32 AS bucket,
          CAST('0x' || substr(md5(
            COALESCE(CAST(o_orderkey AS VARCHAR), '<null>') || '|' ||
            COALESCE(CAST(o_custkey AS VARCHAR), '<null>') || '|' ||
            COALESCE(CASE WHEN o_orderkey <= 3
              THEN o_orderstatus || 'X' ELSE o_orderstatus END, '<null>')
              || '|' ||
            COALESCE(o_orderpriority, '<null>')), 1, 15) AS BIGINT) AS digest
        FROM orders),
      ca AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_a,
          bit_xor(digest) AS digest_a FROM rows_a GROUP BY 1),
      cb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_b,
          bit_xor(digest) AS digest_b FROM rows_b GROUP BY 1)
      SELECT COALESCE(ca.bucket, cb.bucket) AS bucket, n_a, digest_a,
        n_b, digest_b
      FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket
      WHERE n_a IS DISTINCT FROM n_b OR digest_a IS DISTINCT FROM digest_b
      ORDER BY bucket"""))

  /** Image intensity histograms ([[MultimodalOps.imageHistogram]]): REAL
    * PNG payloads synthesized from document bytes (same fixture discipline
    * as q_wav_features), decoded with the JDK codec in the executors, 16
    * dense bins per image. Oracle replays the binning arithmetic over the
    * same char codes — byte-indexed kernel vs char-indexed unicode() agree
    * because the corpus is ASCII (the fixture asserts it). */
  private val qImageHistogram = QuerySpec(
    "q_image_histogram",
    (s, dir) => {
      import s.implicits._
      val png = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val b = text.getBytes("UTF-8")
          require(b.length == text.length, s"non-ASCII text in doc $id")
          (id, MultimodalOps.encodePngGray(
            Array.tabulate[Byte](64)(i => b(i % b.length)), 8, 8))
        }
        .toDF("doc_id", "payload")
      MultimodalOps.imageHistogram(png, "doc_id", "payload", bins = 16)
        .select(col("doc_id"), col("bin").cast("long").as("bin"), col("n_px"))
        .orderBy("doc_id", "bin")
    },
    Some("""WITH px AS (SELECT doc_id,
          unicode(substr(text, (CAST(i AS INT) % length(text)) + 1, 1)) AS v
        FROM documents, generate_series(0, 63) t(i)),
      cnt AS (SELECT doc_id, (v * 16) // 256 AS bin,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM px GROUP BY 1, 2),
      grid AS (SELECT doc_id, CAST(b AS BIGINT) AS bin
        FROM documents, generate_series(0, 15) g(b))
      SELECT grid.doc_id, grid.bin,
        CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_px
      FROM grid LEFT JOIN cnt ON cnt.doc_id = grid.doc_id
        AND cnt.bin = grid.bin
      ORDER BY 1, 2"""))

  /** Perceptual dHash ([[MultimodalOps.dHash]]): 9×8 grayscale PNGs
    * built from document text, decoded with the REAL JDK codec, hashed
    * into 8 bit-rows each; the oracle recomputes every bit from the
    * text bytes. */
  private val qDhash = QuerySpec(
    "q_dhash",
    (s, dir) => {
      import s.implicits._
      val png = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val b = text.getBytes("UTF-8")
          require(b.length == text.length, s"non-ASCII text in doc $id")
          (id, MultimodalOps.encodePngGray(
            Array.tabulate[Byte](72)(i => b(i % b.length)), 9, 8))
        }
        .toDF("doc_id", "payload")
      MultimodalOps.dHash(png, "doc_id", "payload", cols = 8, rows = 8)
        .orderBy("doc_id", "row")
    },
    Some("""SELECT doc_id, CAST(rr.r AS BIGINT) AS "row",
        CAST(SUM(CASE WHEN
          unicode(substr(text,
            ((rr.r * 9 + cc.c + 1) % length(text)) + 1, 1)) >
          unicode(substr(text,
            ((rr.r * 9 + cc.c) % length(text)) + 1, 1))
        THEN (CAST(1 AS BIGINT) << cc.c) ELSE 0 END) AS BIGINT) AS bits
      FROM documents, generate_series(0, 7) rr(r),
        generate_series(0, 7) cc(c)
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Two-feature OLS ([[StatsOps.ols2]]): price on quantity and
    * discount per return flag — closed-form normal equations.
    * Solo-profiled at 3.1 s / sf0.1: the cost is the five decimal(28,6)
    * product-moment folds (wide decimals leave Spark's long-backed
    * fast path), the price of exact order-independent moments — one
    * pass, no shuffle beyond the group agg, not a plan problem. */
  private val qOls2 = QuerySpec(
    "q_ols2",
    (s, dir) => StatsOps.ols2(t(s, dir, "lineitem"),
        Seq(col("l_returnflag")), col("l_quantity"), col("l_discount"),
        col("l_extendedprice"))
      .orderBy("l_returnflag"),
    Some("""WITH k AS (SELECT l_returnflag AS g,
          CAST(l_quantity AS DOUBLE) AS x1,
          CAST(l_discount AS DOUBLE) AS x2,
          CAST(l_extendedprice AS DOUBLE) AS y
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
          AND l_extendedprice IS NOT NULL),
      m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(x1 AS DECIMAL(18,6))) AS DOUBLE) AS s1,
          CAST(SUM(CAST(x2 AS DECIMAL(18,6))) AS DOUBLE) AS s2,
          CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
          CAST(SUM(CAST(x1 * x1 AS DECIMAL(28,6))) AS DOUBLE) AS s11,
          CAST(SUM(CAST(x2 * x2 AS DECIMAL(28,6))) AS DOUBLE) AS s22,
          CAST(SUM(CAST(x1 * x2 AS DECIMAL(28,6))) AS DOUBLE) AS s12,
          CAST(SUM(CAST(x1 * y AS DECIMAL(28,6))) AS DOUBLE) AS s1y,
          CAST(SUM(CAST(x2 * y AS DECIMAL(28,6))) AS DOUBLE) AS s2y
        FROM k GROUP BY 1),
      c AS (SELECT g, n, s1, s2, sy, s1y, s2y,
          s11 * s22 - s12 * s12 AS A, s1 * s22 - s12 * s2 AS B,
          s1 * s12 - s11 * s2 AS C, n * s22 - s2 * s2 AS D,
          n * s12 - s1 * s2 AS E, n * s11 - s1 * s1 AS F
        FROM m),
      d AS (SELECT *, n * A - s1 * B + s2 * C AS det FROM c)
      SELECT g AS l_returnflag, n,
        CASE WHEN n >= 3 AND abs(det) > 1e-9
          THEN CAST(floor((A * sy - B * s1y + C * s2y) / det
            * 1000000.0 + 0.5) AS BIGINT) END AS b0_e6,
        CASE WHEN n >= 3 AND abs(det) > 1e-9
          THEN CAST(floor((-B * sy + D * s1y - E * s2y) / det
            * 1000000.0 + 0.5) AS BIGINT) END AS b1_e6,
        CASE WHEN n >= 3 AND abs(det) > 1e-9
          THEN CAST(floor((C * sy - E * s1y + F * s2y) / det
            * 1000000.0 + 0.5) AS BIGINT) END AS b2_e6
      FROM d ORDER BY 1"""))

  /** Nelson-Aalen cumulative hazard ([[AnalyticsOps.nelsonAalen]]) over
    * the same signup→purchase durations as [[qKaplanMeier]]. */
  private val qNelsonAalen = QuerySpec(
    "q_nelson_aalen",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val s0 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id").as("u")).agg(min(col("ts")).as("t0"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("cu"), col("ts").as("ct"))
      val hz = ev.agg(max(col("ts")).as("h"))
      val durs = s0
        .join(conv, col("u") === col("cu") && col("ct") > col("t0"), "left")
        .groupBy(col("u"), col("t0")).agg(min(col("ct")).as("tp"))
        .crossJoin(broadcast(hz))
        .withColumn("dur_us",
          unix_micros(coalesce(col("tp"), col("h"))) - unix_micros(col("t0")))
        .select(pmod(col("u"), lit(2)).cast("long").as("cohort"),
          expr("dur_us DIV 86400000000").as("t"),
          col("tp").isNotNull.as("e"))
      AnalyticsOps.nelsonAalen(durs, Seq(col("cohort")), col("t"), col("e"))
        .orderBy("cohort", "t")
    },
    Some("""WITH s0 AS (SELECT user_id AS u, MIN(ts) AS t0 FROM events
        WHERE event_type = 'signup' GROUP BY 1),
      hz AS (SELECT MAX(ts) AS h FROM events),
      pu AS (SELECT s0.u, s0.t0, MIN(e.ts) AS tp FROM s0 LEFT JOIN events e
        ON e.user_id = s0.u AND e.event_type = 'purchase' AND e.ts > s0.t0
        GROUP BY 1, 2),
      durs AS (SELECT u % 2 AS cohort,
          (epoch_us(COALESCE(tp, (SELECT h FROM hz))) - epoch_us(t0))
            // 86400000000 AS t,
          tp IS NOT NULL AS e FROM pu),
      at AS (SELECT cohort, t,
          CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
          CAST(COUNT(*) AS BIGINT) AS leave FROM durs GROUP BY 1, 2),
      wr AS (SELECT cohort, t, d,
          SUM(leave) OVER (PARTITION BY cohort) - COALESCE(
            SUM(leave) OVER (PARTITION BY cohort ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS n_risk
        FROM at),
      ev AS (SELECT cohort, t, n_risk, d,
          CAST(floor(CAST(d AS DOUBLE) / n_risk * 1000000000.0 + 0.5)
            AS BIGINT) AS he
        FROM wr WHERE d > 0)
      SELECT cohort, t, CAST(n_risk AS BIGINT) AS n_risk, d,
        CAST(SUM(he) OVER (PARTITION BY cohort ORDER BY t) AS BIGINT)
          AS h_e9
      FROM ev ORDER BY cohort, t"""))

  /** Period-over-period deltas ([[AnalyticsOps.popDeltas]]): weekly
    * value totals per event type with lag-1 change. */
  private val qPopDeltas = QuerySpec(
    "q_pop_deltas",
    (s, dir) => AnalyticsOps.popDeltas(t(s, dir, "events"),
        Seq(col("event_type")), unix_micros(col("ts")), col("value"),
        bucketUs = 604800000000L)
      .orderBy("event_type", "period"),
    Some("""WITH k AS (SELECT event_type AS g,
          CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 604800000000)
            AS BIGINT) AS period,
          CAST(value AS DOUBLE) AS v
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      a AS (SELECT g, period,
          ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE), 6)
            AS total
        FROM k GROUP BY 1, 2),
      l AS (SELECT g, period, total,
          lag(total) OVER (PARTITION BY g ORDER BY period) AS prev_total
        FROM a)
      SELECT g AS event_type, period, total, prev_total,
        ROUND(total - prev_total, 6) AS delta,
        CASE WHEN prev_total IS NOT NULL AND prev_total <> 0.0
          THEN CAST(floor((total - prev_total) / prev_total
            * 1000000.0 + 0.5) AS BIGINT) END AS pct_e6
      FROM l ORDER BY 1, 2"""))

  /** Quantile transform ([[StatsOps.quantileTransform]]): every event
    * value mapped to its within-type percent rank. */
  private val qQuantileTransform = QuerySpec(
    "q_quantile_transform",
    (s, dir) => StatsOps.quantileTransform(t(s, dir, "events"),
        Seq(col("event_type")), col("event_id"), col("value"))
      .orderBy("event_type", "id"),
    Some("""SELECT event_type, event_id AS id,
        CAST(value AS DOUBLE) AS x,
        CAST(floor(percent_rank() OVER (PARTITION BY event_type
          ORDER BY CAST(value AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
          AS pr_e6
      FROM events WHERE value IS NOT NULL
      ORDER BY event_type, id"""))

  /** Transaction-log table ([[graft.sources.TxLog]]): two event batches
    * committed atomically, then a content-neutral compaction commit
    * (add compacted file, remove input) — the gate aggregates the
    * LATEST snapshot and the pre-compaction TIME-TRAVEL snapshot side
    * by side, proving both match the raw table (isolation + travel).
    * The WHOLE table root — manifests, claims, data files, snapshot
    * scans — runs through the non-`file:` `graftfs://` scheme, proving
    * the log speaks the Hadoop FileSystem API rather than
    * `java.io.File` (the object-store-shaped path). */
  private val qTxlogSnapshot = QuerySpec(
    "q_txlog_snapshot",
    (s, dir) => {
      import graft.sources.TxLog
      graft.sources.GraftFileSystem.register(s)
      val root = graft.sources.GraftFileSystem.uri(Graft.scratch(dir, "txlog"))
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val even = ev.filter(col("event_id") % 2 === 0)
      val odd = ev.filter(col("event_id") % 2 === 1)
      TxLog.commit(root, Seq(TxLog.writeBatch(even, root, "b_even")))
      TxLog.commit(root, Seq(TxLog.writeBatch(odd, root, "b_odd")))
      // compaction: rewrite the even batch, swap it in atomically
      val compacted = TxLog.read(s, root, asOf = 1).coalesce(1)
      TxLog.commit(root,
        Seq(TxLog.writeBatch(compacted, root, "b_even_c")),
        remove = Seq(s"$root/data/b_even"))
      // checkpoint the log: the "latest" snapshot below resolves through
      // the checkpoint seed (bounded resolution), and must be
      // content-identical to the full manifest replay
      TxLog.checkpoint(root)
      def snap(tag: String, asOf: Int) =
        TxLog.read(s, root, asOf)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            AggOps.sumExact(col("value")).as("sum_value"))
          .withColumn("snapshot", lit(tag))
      snap("v1_evens", 1)
        .unionByName(snap("latest", -1))
        .select(col("snapshot"), col("event_type"), col("n"),
          col("sum_value"))
        .orderBy("snapshot", "event_type")
    },
    Some("""SELECT 'latest' AS snapshot, event_type,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
      UNION ALL
      SELECT 'v1_evens', event_type, CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2
      ORDER BY snapshot, event_type"""))

  /** Lakehouse tail + IVM composition ([[graft.sources.TxLog.readDelta]]
    * feeding [[AggOps.statsDeltaSigned]]): the table ingests two
    * committed batches; a per-type (cnt, exact-sum) view built at v1
    * refreshes from the (v1, v2] manifest tail — never rereading batch
    * one — and must equal the oracle's full recompute over everything.
    * This is the standing shape of an incremental pipeline consuming a
    * manifest-log table. */
  private val qTxlogIncremental = QuerySpec(
    "q_txlog_incremental",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_inc")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val b = TextFunctions.portableBucket(col("event_id"), 10)
      val v1 = TxLog.commit(root,
        Seq(TxLog.writeBatch(ev.filter(b < 7), root, "b1")))
      val v2 = TxLog.commit(root,
        Seq(TxLog.writeBatch(ev.filter(b >= 7), root, "b2")))
      val state = AggOps.partialStats(TxLog.read(s, root, asOf = v1),
        Seq(col("event_type")), col("value"))
      val delta = TxLog.readDelta(s, root, v1, v2).get
        .withColumn("sign", lit(1))
      AggOps.statsDeltaSigned(state, delta, Seq(col("event_type")),
          col("value"), col("sign"))
        .select(col("event_type"), col("cnt"),
          col("sum_dec").cast("double").as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(value) AS BIGINT) AS cnt,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events WHERE event_id IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** Lakehouse maintenance loop ([[graft.sources.TxLog.optimize]] →
    * checkpoint → expireManifests → [[graft.sources.TxLog.vacuum]]): the
    * table ingests four small batches (the small-file pressure shape)
    * committed WITH l_orderkey manifest stats, OPTIMIZE bin-packs them
    * into two range-clustered files as an ordinary atomic commit, and
    * vacuum reclaims the four retired batch dirs once log expiry has
    * made them unreachable. Every invariant is require()-asserted in the
    * gate (optimize version, idempotent no-op re-run, exactly four dirs
    * vacuumed, and — VERDICT r10 — [[graft.sources.TxLog.readPruned]]
    * must STILL skip a file after optimize: compaction preserves and
    * re-derives the stats rather than committing stats-free). The
    * hash-checked OUTPUT is the post-maintenance snapshot aggregate plus
    * a pruned-read range aggregate, both recomputed by the oracle from
    * the raw table — content neutrality AND no-row-loss end to end.
    *
    * Bench note: repeats here do NOT warm (each repeat rebuilds,
    * optimizes and vacuums its table from scratch) — that is the point
    * of a maintenance gate, not a regression. */
  private val qTxlogOptimize = QuerySpec(
    "q_txlog_optimize",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_opt")
      TxLog.destroy(root)
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      val b = TextFunctions.portableBucket(col("l_orderkey"), 4)
      // the four ingest batches are independent jobs: their writes overlap
      // (guide §2.6) and their manifest stats come from ONE grouped agg
      // over the source instead of one full-scan agg per batch — commits
      // stay sequential, so versions and table state are unchanged
      val statRows = li.groupBy(b.as("_bk"))
        .agg(min(col("l_orderkey").cast("double")).as("_mn"),
          max(col("l_orderkey").cast("double")).as("_mx")).collect()
      val statByK = statRows.map(r => r.getLong(0).toInt ->
        (if (r.isNullAt(1)) None
         else Some(s"l_orderkey;${r.getDouble(1)};${r.getDouble(2)}"))).toMap
      val paths = core.Graft.overlapJobs((0 until 4).map { k => () =>
        TxLog.writeBatch(li.filter(b === k), root, s"b$k")
      })
      (0 until 4).foreach { k =>
        TxLog.commitWithStats(root,
          Seq(paths(k) -> statByK.getOrElse(k, None)))
      }
      val vOpt = TxLog.optimize(s, root, "opt", targetFiles = 2)
      require(vOpt == 5, s"optimize must commit as version 5, got $vOpt")
      require(TxLog.liveFiles(root).size == 2,
        "optimize must leave two live files")
      require(TxLog.optimize(s, root, "opt2", targetFiles = 2) == 0,
        "re-optimize at the target must be a no-op")
      // the stats-preservation contract: a narrow range on the recorded
      // column still skips at least one of the two compacted files
      val full = TxLog.read(s, root)
      val pruned = TxLog.readPruned(s, root, "l_orderkey", 0, 1000).get
      require(pruned.inputFiles.length < full.inputFiles.length,
        "optimize must preserve manifest stats: a narrow l_orderkey " +
          "range must still skip a compacted file")
      TxLog.checkpoint(root)
      TxLog.expireManifests(root)
      val gone = TxLog.vacuum(root)
      require(gone.size == 4,
        s"vacuum must reclaim the 4 retired batch dirs, got $gone")
      TxLog.read(s, root)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(20,6)")).cast("double")
            .as("sum_qty"))
        .select(col("l_returnflag").as("dim"), col("cnt"), col("sum_qty"))
        .unionByName(pruned.filter(col("l_orderkey") <= 1000)
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast("decimal(20,6)")).cast("double")
              .as("sum_qty"))
          .select(lit("pruned_range").as("dim"), col("cnt"), col("sum_qty")))
        .orderBy("dim")
    },
    Some("""SELECT l_returnflag AS dim,
        CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY 1
      UNION ALL
      SELECT 'pruned_range' AS dim, CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
      FROM lineitem WHERE l_orderkey <= 1000
      ORDER BY 1"""))

  /** Z-ORDER layout + cross-dimension data skipping
    * ([[graft.sources.TxLog.optimizeZOrder]]): the table is rewritten
    * along a rank-normalized z-curve over (l_orderkey, l_partkey) into 4
    * files with multi-column manifest stats, and the gate REQUIRES that
    * a narrow range query on EITHER dimension skips at least one file
    * (`inputFiles` count vs the full snapshot) — the property a
    * single-column sort cannot give. The hash-checked output is the pair
    * of pruned-read aggregates, which the oracle recomputes from the raw
    * table — file skipping provably loses no rows. */
  /** Version rollback ([[graft.sources.TxLog.restore]]) — the RESTORE
    * verb completing the maintenance loop: two batches land, OPTIMIZE
    * compacts them, then restore rolls the table back to version 1 as
    * ONE ordinary commit. The gate asserts the full rollback contract:
    * the restored snapshot equals batch 1, time travel ACROSS the
    * restore still serves the pre-restore union, and a repeated restore
    * is a no-op. Hash-checked output: the restored-snapshot aggregate
    * AND the asOf=2 (pre-restore) aggregate, both recomputed by the
    * oracle from the raw table through the same portable bucket split. */
  private val qTxlogRestore = QuerySpec(
    "q_txlog_restore",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_restore")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val b = TextFunctions.portableBucket(col("event_id"), 2)
      TxLog.commit(root, Seq(TxLog.writeBatch(ev.filter(b === 0), root, "b0")))
      TxLog.commit(root, Seq(TxLog.writeBatch(ev.filter(b === 1), root, "b1")))
      require(TxLog.optimize(s, root, "opt", targetFiles = 1) == 3)
      val vR = TxLog.restore(root, 1)
      require(vR == 4, s"restore must land as ordinary version 4, got $vR")
      require(TxLog.restore(root, 1) == 0,
        "re-restore to the same version must be a no-op")
      def agg(df: org.apache.spark.sql.DataFrame, dim: String) =
        df.agg(count(col("value")).as("cnt"),
            sum(col("value").cast("decimal(18,6)")).cast("double")
              .as("sum_value"))
          .select(lit(dim).as("dim"), col("cnt"), col("sum_value"))
      agg(TxLog.read(s, root), "restored_v1")
        .unionByName(agg(TxLog.read(s, root, asOf = 2), "pre_restore_v2"))
        .orderBy("dim")
    },
    Some("""WITH ev AS (SELECT event_id, value,
          CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT)
            % 2 AS b
        FROM events)
      SELECT 'pre_restore_v2' AS dim, CAST(COUNT(value) AS BIGINT) AS cnt,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM ev WHERE event_id IS NOT NULL
      UNION ALL
      SELECT 'restored_v1' AS dim, CAST(COUNT(value) AS BIGINT) AS cnt,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM ev WHERE b = 0
      ORDER BY 1"""))

  /** Copy-on-write DELETE ([[graft.sources.TxLog.deleteWhere]]): events
    * land as three batches split BY TYPE, then `DELETE WHERE
    * event_type='click' AND value<50` runs — the gate REQUIRES the two
    * batches holding no clicks survive UNREWRITTEN (file pruning, the
    * 100 TB property: deleting one tenant rewrites that tenant's files,
    * not the table), the matched batch is retired, and a repeat delete
    * is a no-op. Hash-checked output: the post-delete snapshot AND the
    * pre-delete time-travel snapshot, both recomputed by the oracle from
    * the raw table (the delete predicate replayed in SQL). */
  private val qTxlogDelete = QuerySpec(
    "q_txlog_delete",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_del")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val pClick = TxLog.writeBatch(
        ev.filter(col("event_type") === "click"), root, "b_click")
      val pView = TxLog.writeBatch(
        ev.filter(col("event_type") === "view"), root, "b_view")
      val pRest = TxLog.writeBatch(
        ev.filter(!col("event_type").isin("click", "view")), root, "b_rest")
      TxLog.commit(root, Seq(pClick))
      TxLog.commit(root, Seq(pView))
      TxLog.commit(root, Seq(pRest))
      val pred = col("event_type") === "click" && col("value") < 50.0
      val vDel = TxLog.deleteWhere(s, root, "del", pred)
      require(vDel == 4, s"delete must land as ordinary version 4, got $vDel")
      val live = TxLog.liveFiles(root)
      require(live.contains(pView) && live.contains(pRest),
        "file pruning: batches with no matching rows must NOT be rewritten")
      require(!live.contains(pClick), "the matched batch must be retired")
      require(TxLog.deleteWhere(s, root, "del2", pred) == 0,
        "re-deleting already-deleted rows must be a no-op")
      def agg(df: DataFrame, tag: String) =
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sumExact(col("value")).as("sum_value"))
          .withColumn("snapshot", lit(tag))
      agg(TxLog.read(s, root), "post")
        .unionByName(agg(TxLog.read(s, root, asOf = 3), "pre"))
        .select(col("snapshot"), col("event_type"), col("n"),
          col("sum_value"))
        .orderBy("snapshot", "event_type")
    },
    Some("""SELECT 'post' AS snapshot, event_type,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events
      WHERE NOT COALESCE(event_type = 'click' AND value < 50.0, FALSE)
      GROUP BY 1, 2
      UNION ALL
      SELECT 'pre', event_type, CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      FROM events GROUP BY 1, 2
      ORDER BY snapshot, event_type"""))

  /** MERGE / upsert ([[graft.sources.TxLog.merge]]): customers land as a
    * low-key and a high-key batch; the merge source carries balance
    * UPDATES for every tenth low-range key (matches confined to the low
    * batch by construction) plus shifted-key INSERTS. The gate REQUIRES
    * the high batch survives unrewritten (source-key file pruning — a
    * small upsert into a 100 TB table rewrites the files its keys live
    * in, not the table) and the matched batch is retired. Hash-checked
    * output: the post-merge snapshot AND the pre-merge time-travel
    * snapshot; the oracle replays the full when-matched-update /
    * when-not-matched-insert semantics in SQL. */
  private val qTxlogMerge = QuerySpec(
    "q_txlog_merge",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_merge")
      TxLog.destroy(root)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val pLow = TxLog.writeBatch(
        cust.filter(col("c_custkey") < 750), root, "b_low")
      val pHigh = TxLog.writeBatch(
        cust.filter(col("c_custkey") >= 750), root, "b_high")
      TxLog.commit(root, Seq(pLow))
      TxLog.commit(root, Seq(pHigh))
      val updates = cust
        .filter(col("c_custkey") % 10 === 0 && col("c_custkey") < 750)
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
      val inserts = cust.filter(col("c_custkey") % 10 === 3)
        .withColumn("c_custkey", col("c_custkey") + 1000000L)
        .withColumn("c_acctbal", col("c_acctbal") * 2.0)
      val vM = TxLog.merge(s, root, "m", updates.unionByName(inserts),
        Seq("c_custkey"))
      require(vM == 3, s"merge must land as ordinary version 3, got $vM")
      val live = TxLog.liveFiles(root)
      require(live.contains(pHigh),
        "file pruning: the batch holding no source keys must NOT be rewritten")
      require(!live.contains(pLow), "the matched batch must be retired")
      def agg(df: DataFrame, tag: String) =
        df.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sumExact(col("c_acctbal")).as("sum_bal"))
          .withColumn("snapshot", lit(tag))
      agg(TxLog.read(s, root), "post")
        .unionByName(agg(TxLog.read(s, root, asOf = 2), "pre"))
        .select(col("snapshot"), col("c_mktsegment"), col("n"),
          col("sum_bal"))
        .orderBy("snapshot", "c_mktsegment")
    },
    Some("""WITH src AS (
        SELECT c_custkey, c_mktsegment, c_acctbal + 1000.0 AS c_acctbal
        FROM customer WHERE c_custkey % 10 = 0 AND c_custkey < 750
        UNION ALL
        SELECT c_custkey + 1000000, c_mktsegment, c_acctbal * 2.0
        FROM customer WHERE c_custkey % 10 = 3
      ), merged AS (
        SELECT c_mktsegment, c_acctbal FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
        UNION ALL
        SELECT c_mktsegment, c_acctbal FROM src
      )
      SELECT 'post' AS snapshot, c_mktsegment,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
      FROM merged GROUP BY 1, 2
      UNION ALL
      SELECT 'pre', c_mktsegment, CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
      FROM customer GROUP BY 1, 2
      ORDER BY snapshot, c_mktsegment"""))

  /** CDC APPLY CHANGES ([[graft.sources.TxLog.applyChanges]]): one
    * op-tagged feed batch — deletes for every tenth key, balance
    * updates for another tenth, shifted-key inserts — folds into the
    * table as ONE atomic commit through the shared merge core. The
    * oracle replays delete/update/insert semantics in SQL over the raw
    * table; the pre-change time-travel snapshot proves isolation. */
  private val qTxlogCdc = QuerySpec(
    "q_txlog_cdc",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_cdc")
      TxLog.destroy(root)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val b = TextFunctions.portableBucket(col("c_custkey"), 2)
      TxLog.commit(root,
        Seq(TxLog.writeBatch(cust.filter(b === 0), root, "b0")))
      TxLog.commit(root,
        Seq(TxLog.writeBatch(cust.filter(b === 1), root, "b1")))
      val dels = cust.filter(col("c_custkey") % 10 === 1)
        .withColumn("op", lit("D"))
      val ups = cust.filter(col("c_custkey") % 10 === 2)
        .withColumn("c_acctbal", col("c_acctbal") + 500.0)
        .withColumn("op", lit("U"))
      val ins = cust.filter(col("c_custkey") % 10 === 4)
        .withColumn("c_custkey", col("c_custkey") + 2000000L)
        .withColumn("c_acctbal", col("c_acctbal") * 3.0)
        .withColumn("op", lit("U"))
      val vC = TxLog.applyChanges(s, root, "cdc",
        dels.unionByName(ups).unionByName(ins), Seq("c_custkey"))
      require(vC == 3, s"applyChanges must land as version 3, got $vC")
      require(!TxLog.read(s, root).columns.contains("op"),
        "the op marker is feed plumbing and must not land in the table")
      def agg(df: DataFrame, tag: String) =
        df.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sumExact(col("c_acctbal")).as("sum_bal"))
          .withColumn("snapshot", lit(tag))
      agg(TxLog.read(s, root), "post")
        .unionByName(agg(TxLog.read(s, root, asOf = 2), "pre"))
        .select(col("snapshot"), col("c_mktsegment"), col("n"),
          col("sum_bal"))
        .orderBy("snapshot", "c_mktsegment")
    },
    Some("""WITH merged AS (
        SELECT c_mktsegment, c_acctbal FROM customer
        WHERE c_custkey % 10 <> 1 AND c_custkey % 10 <> 2
        UNION ALL
        SELECT c_mktsegment, c_acctbal + 500.0 FROM customer
        WHERE c_custkey % 10 = 2
        UNION ALL
        SELECT c_mktsegment, c_acctbal * 3.0 FROM customer
        WHERE c_custkey % 10 = 4
      )
      SELECT 'post' AS snapshot, c_mktsegment,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
      FROM merged GROUP BY 1, 2
      UNION ALL
      SELECT 'pre', c_mktsegment, CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
      FROM customer GROUP BY 1, 2
      ORDER BY snapshot, c_mktsegment"""))

  /** Copy-on-write UPDATE ([[graft.sources.TxLog.updateWhere]]) — the
    * third row-level DML verb: customers land as a low-key and a
    * high-key batch, then `UPDATE SET c_acctbal = c_acctbal +
    * c_nationkey, c_nationkey = c_nationkey + 7 WHERE
    * c_mktsegment='BUILDING' AND c_custkey<750` runs (matches confined
    * to the low batch by construction). The gate REQUIRES the high
    * batch survives UNREWRITTEN (file pruning — updating one tenant
    * rewrites that tenant's files, not the table), the matched batch is
    * retired, and a no-match update commits nothing. Both SET
    * right-hand sides read the PRE-update row — the oracle replays them
    * from the raw table, so chained evaluation (acctbal seeing the
    * bumped nationkey) would hash-mismatch. Pre-update time travel is
    * hash-checked too. */
  private val qTxlogUpdate = QuerySpec(
    "q_txlog_update",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_upd")
      TxLog.destroy(root)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
          col("c_acctbal"))
      val pLow = TxLog.writeBatch(
        cust.filter(col("c_custkey") < 750), root, "b_low")
      val pHigh = TxLog.writeBatch(
        cust.filter(col("c_custkey") >= 750), root, "b_high")
      TxLog.commit(root, Seq(pLow))
      TxLog.commit(root, Seq(pHigh))
      val pred = col("c_mktsegment") === "BUILDING" && col("c_custkey") < 750
      val vU = TxLog.updateWhere(s, root, "upd", pred, Seq(
        "c_acctbal" -> (col("c_acctbal") + col("c_nationkey")),
        "c_nationkey" -> (col("c_nationkey") + lit(7))))
      require(vU == 3, s"update must land as ordinary version 3, got $vU")
      val live = TxLog.liveFiles(root)
      require(live.contains(pHigh),
        "file pruning: the batch with no matching rows must NOT be rewritten")
      require(!live.contains(pLow), "the matched batch must be retired")
      require(TxLog.updateWhere(s, root, "upd2", col("c_custkey") < 0,
        Seq("c_acctbal" -> lit(0.0))) == 0,
        "a no-match update must commit nothing")
      def agg(df: DataFrame, tag: String) =
        df.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sumExact(col("c_acctbal")).as("sum_bal"),
            sum(col("c_nationkey")).cast("long").as("sum_nat"))
          .withColumn("snapshot", lit(tag))
      agg(TxLog.read(s, root), "post")
        .unionByName(agg(TxLog.read(s, root, asOf = 2), "pre"))
        .select(col("snapshot"), col("c_mktsegment"), col("n"),
          col("sum_bal"), col("sum_nat"))
        .orderBy("snapshot", "c_mktsegment")
    },
    Some("""WITH upd AS (
        SELECT c_mktsegment,
          CASE WHEN c_mktsegment = 'BUILDING' AND c_custkey < 750
               THEN c_acctbal + c_nationkey ELSE c_acctbal END AS bal,
          CASE WHEN c_mktsegment = 'BUILDING' AND c_custkey < 750
               THEN c_nationkey + 7 ELSE c_nationkey END AS nat
        FROM customer)
      SELECT 'post' AS snapshot, c_mktsegment,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(bal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal,
        CAST(SUM(nat) AS BIGINT) AS sum_nat
      FROM upd GROUP BY 1, 2
      UNION ALL
      SELECT 'pre', c_mktsegment, CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE),
        CAST(SUM(c_nationkey) AS BIGINT)
      FROM customer GROUP BY 1, 2
      ORDER BY snapshot, c_mktsegment"""))

  /** MERGE-ON-READ DELETE via deletion vectors
    * ([[graft.sources.TxLog.deleteWhereDV]]) — the verb that changes the
    * 100 TB delete cost model: events land as three by-type batches,
    * then two DV deletes run against the click batch. The gate REQUIRES
    * the live data-file set stays BYTE-IDENTICAL through both deletes
    * (zero rewrite — copy-on-write would retire the click batch), the
    * two vectors collapse to ONE cumulative binding, and a follow-up
    * OPTIMIZE materializes the mask (bindings gone, content preserved).
    * Hash-checked: the masked snapshot, the pre-delete time-travel
    * snapshot, AND the post-optimize snapshot — the oracle replays both
    * delete predicates in SQL, so a mask that leaks or over-deletes
    * mismatches three ways. */
  private val qTxlogDeleteDv = QuerySpec(
    "q_txlog_delete_dv",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_dvdel")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      TxLog.commit(root, Seq(TxLog.writeBatch(
        ev.filter(col("event_type") === "click"), root, "b_click")))
      TxLog.commit(root, Seq(TxLog.writeBatch(
        ev.filter(col("event_type") === "view"), root, "b_view")))
      TxLog.commit(root, Seq(TxLog.writeBatch(
        ev.filter(!col("event_type").isin("click", "view")), root, "b_rest")))
      val before = TxLog.liveFiles(root)
      val pred1 = col("event_type") === "click" && col("value") < 50.0
      val pred2 = col("event_type") === "click" && col("event_id") % 7 === 0
      require(TxLog.deleteWhereDV(s, root, "dv1", pred1) == 4,
        "the DV delete lands as ordinary version 4")
      require(TxLog.deleteWhereDV(s, root, "dv2", pred2) == 5,
        "the second DV delete lands as version 5")
      require(TxLog.liveFiles(root) == before,
        "merge-on-read: the data-file set must be byte-identical — a " +
          "rewrite here is the copy-on-write cost model this verb exists " +
          "to avoid")
      require(TxLog.snapshot(root).dvs.size == 1,
        "cumulative vectors: two deletes on one file keep ONE binding")
      def agg(df: DataFrame, tag: String) =
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sumExact(col("value")).as("sum_value"))
          .withColumn("snapshot", lit(tag))
      val masked = agg(TxLog.read(s, root), "post")
        .unionByName(agg(TxLog.read(s, root, asOf = 3), "pre"))
      require(TxLog.optimize(s, root, "opt", targetFiles = 2) == 6,
        "optimize lands as version 6")
      require(TxLog.snapshot(root).dvs.isEmpty,
        "compaction must MATERIALIZE the vectors and retire the sidecars")
      masked
        .unionByName(agg(TxLog.read(s, root), "optimized"))
        .select(col("snapshot"), col("event_type"), col("n"),
          col("sum_value"))
        .orderBy("snapshot", "event_type")
    },
    Some("""WITH kept AS (
        SELECT event_type, value FROM events
        WHERE NOT COALESCE(event_type = 'click' AND value < 50.0, FALSE)
          AND NOT COALESCE(event_type = 'click' AND event_id % 7 = 0, FALSE)
      )
      SELECT 'optimized' AS snapshot, event_type,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM kept GROUP BY 1, 2
      UNION ALL
      SELECT 'post', event_type, CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      FROM kept GROUP BY 1, 2
      UNION ALL
      SELECT 'pre', event_type, CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      FROM events GROUP BY 1, 2
      ORDER BY snapshot, event_type"""))

  /** MERGE-ON-READ UPDATE ([[graft.sources.TxLog.updateWhereDV]]):
    * customers land as a low/high key split; the DV update masks the
    * matched BUILDING rows in place and lands their updated copies as
    * ONE new file — the gate REQUIRES every original data file survives
    * byte-identical and exactly one file was added (contrast
    * q_txlog_update, where the matched batch is retired). SET semantics
    * are the copy-on-write verb's, pinned by the same oracle shape:
    * both right-hand sides read the PRE-update row, so chained
    * evaluation hash-mismatches. Pre-update time travel is checked
    * too. */
  private val qTxlogUpdateDv = QuerySpec(
    "q_txlog_update_dv",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_dvupd")
      TxLog.destroy(root)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
          col("c_acctbal"))
      TxLog.commit(root, Seq(TxLog.writeBatch(
        cust.filter(col("c_custkey") < 750), root, "b_low")))
      TxLog.commit(root, Seq(TxLog.writeBatch(
        cust.filter(col("c_custkey") >= 750), root, "b_high")))
      val before = TxLog.liveFiles(root)
      val pred = col("c_mktsegment") === "BUILDING" && col("c_custkey") < 750
      val vU = TxLog.updateWhereDV(s, root, "upd", pred, Seq(
        "c_acctbal" -> (col("c_acctbal") + col("c_nationkey")),
        "c_nationkey" -> (col("c_nationkey") + lit(7))))
      require(vU == 3, s"the DV update lands as ordinary version 3, got $vU")
      val live = TxLog.liveFiles(root)
      require(before.forall(live.contains),
        "merge-on-read UPDATE removes nothing — originals stay masked")
      require(live.size == before.size + 1,
        "the updated copies land as exactly one new file")
      require(TxLog.snapshot(root).dvs.nonEmpty,
        "the matched file must carry a deletion-vector binding")
      require(TxLog.updateWhereDV(s, root, "upd2", col("c_custkey") < 0,
        Seq("c_acctbal" -> lit(0.0))) == 0,
        "a no-match DV update must commit nothing")
      def agg(df: DataFrame, tag: String) =
        df.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sumExact(col("c_acctbal")).as("sum_bal"),
            sum(col("c_nationkey")).cast("long").as("sum_nat"))
          .withColumn("snapshot", lit(tag))
      agg(TxLog.read(s, root), "post")
        .unionByName(agg(TxLog.read(s, root, asOf = 2), "pre"))
        .select(col("snapshot"), col("c_mktsegment"), col("n"),
          col("sum_bal"), col("sum_nat"))
        .orderBy("snapshot", "c_mktsegment")
    },
    Some("""WITH upd AS (
        SELECT c_mktsegment,
          CASE WHEN c_mktsegment = 'BUILDING' AND c_custkey < 750
               THEN c_acctbal + c_nationkey ELSE c_acctbal END AS bal,
          CASE WHEN c_mktsegment = 'BUILDING' AND c_custkey < 750
               THEN c_nationkey + 7 ELSE c_nationkey END AS nat
        FROM customer)
      SELECT 'post' AS snapshot, c_mktsegment,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(bal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal,
        CAST(SUM(nat) AS BIGINT) AS sum_nat
      FROM upd GROUP BY 1, 2
      UNION ALL
      SELECT 'pre', c_mktsegment, CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE),
        CAST(SUM(c_nationkey) AS BIGINT)
      FROM customer GROUP BY 1, 2
      ORDER BY snapshot, c_mktsegment"""))

  /** Row-signed CDC across MERGE-ON-READ verbs: a DV DELETE and a DV
    * UPDATE run back to back, and the [[graft.sources.TxLog.readChanges]]
    * feed for the whole window folds into the pre-verb snapshot to
    * reproduce the post-verb table EXACTLY — but unlike
    * q_txlog_rowverb_cdc, the window removes ZERO files (REQUIREd):
    * every retraction flows through the deletion-vector DELTA grain
    * (rows the window's new vectors mask beyond the old ones), the
    * hardest CDC path because there is no file diff to read it from.
    * Also REQUIRES the feed carries −1 rows. The oracle computes the
    * final state from the raw table and emits it under both tags. */
  private val qTxlogDvCdc = QuerySpec(
    "q_txlog_dv_cdc",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_dvcdc")
      TxLog.destroy(root)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val b = TextFunctions.portableBucket(col("c_custkey"), 2)
      TxLog.commit(root,
        Seq(TxLog.writeBatch(cust.filter(b === 0), root, "b0")))
      TxLog.commit(root,
        Seq(TxLog.writeBatch(cust.filter(b === 1), root, "b1")))
      require(TxLog.deleteWhereDV(s, root, "dvd",
        col("c_custkey") % 10 === 5) == 3, "DV delete lands as version 3")
      require(TxLog.updateWhereDV(s, root, "dvu",
        col("c_custkey") % 10 === 2,
        Seq("c_acctbal" -> (col("c_acctbal") + 500.0))) == 4,
        "DV update lands as version 4")
      val (_, removedInWindow) = TxLog.changedFiles(root, 2, 4)
      require(removedInWindow.isEmpty,
        "merge-on-read window: retractions must flow through DV deltas, " +
          "not file removals")
      val feed = TxLog.readChanges(s, root, 2, 4)
        .getOrElse(sys.error("DV verbs changed the table; feed must exist"))
      require(feed.filter(col("sign") === -1).limit(1).count() == 1,
        "masked rows must surface as -1 in the feed")
      val base = TxLog.read(s, root, asOf = 2).withColumn("sign", lit(1))
      def agg(df: DataFrame, tag: String) =
        df.groupBy(col("c_mktsegment"))
          .agg(sum(col("sign")).cast("long").as("n"),
            sumExact(col("sign") * col("c_acctbal")).as("sum_bal"))
          .withColumn("snapshot", lit(tag))
      agg(base.unionByName(feed), "folded")
        .unionByName(agg(TxLog.read(s, root).withColumn("sign", lit(1)),
          "post"))
        .select(col("snapshot"), col("c_mktsegment"), col("n"),
          col("sum_bal"))
        .orderBy("snapshot", "c_mktsegment")
    },
    Some("""WITH fin AS (
        SELECT c_mktsegment,
          CASE WHEN c_custkey % 10 = 2 THEN c_acctbal + 500.0
               ELSE c_acctbal END AS bal
        FROM customer WHERE c_custkey % 10 <> 5
      )
      SELECT 'folded' AS snapshot, c_mktsegment,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(bal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
      FROM fin GROUP BY 1, 2
      UNION ALL
      SELECT 'post', c_mktsegment, CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(bal AS DECIMAL(18,6))) AS DOUBLE)
      FROM fin GROUP BY 1, 2
      ORDER BY snapshot, c_mktsegment"""))

  /** Row-signed CDC ([[graft.sources.TxLog.readChanges]]) composed
    * ACROSS the row-level DML verbs: a two-batch table takes a DELETE
    * (every key ≡5 mod 10) then a MERGE (balance updates for keys ≡0,
    * shifted-key inserts for ≡7), and the change feed for the whole
    * (v2, v4] window is folded into the pre-verb snapshot — the fold
    * must reproduce the post-verb table EXACTLY, even though both
    * commits were copy-on-write rewrites whose files mix kept rows
    * (+1/−1 cancelling pairs) with genuine changes. The gate emits the
    * folded aggregate AND the directly-read post snapshot under
    * different tags; the oracle computes both from the raw table, so
    * any double-count or loss in the feed hash-mismatches. Also
    * REQUIRES the feed carries −1 rows (a degenerate append-only feed
    * would pass the fold trivially). */
  private val qTxlogRowverbCdc = QuerySpec(
    "q_txlog_rowverb_cdc",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_rvcdc")
      TxLog.destroy(root)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val b = TextFunctions.portableBucket(col("c_custkey"), 2)
      TxLog.commit(root,
        Seq(TxLog.writeBatch(cust.filter(b === 0), root, "b0")))
      TxLog.commit(root,
        Seq(TxLog.writeBatch(cust.filter(b === 1), root, "b1")))
      val vD = TxLog.deleteWhere(s, root, "del", col("c_custkey") % 10 === 5)
      require(vD == 3, s"delete must land as version 3, got $vD")
      val updates = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
      val inserts = cust.filter(col("c_custkey") % 10 === 7)
        .withColumn("c_custkey", col("c_custkey") + 3000000L)
        .withColumn("c_acctbal", col("c_acctbal") * 2.0)
      val vM = TxLog.merge(s, root, "m", updates.unionByName(inserts),
        Seq("c_custkey"))
      require(vM == 4, s"merge must land as version 4, got $vM")
      val feed = TxLog.readChanges(s, root, 2, vM)
        .getOrElse(sys.error("row verbs changed the table; feed must exist"))
      require(feed.filter(col("sign") === -1).limit(1).count() == 1,
        "copy-on-write rewrites must surface -1 rows in the feed")
      val base = TxLog.read(s, root, asOf = 2).withColumn("sign", lit(1))
      def agg(df: DataFrame, tag: String) =
        df.groupBy(col("c_mktsegment"))
          .agg(sum(col("sign")).cast("long").as("n"),
            sumExact(col("sign") * col("c_acctbal")).as("sum_bal"))
          .withColumn("snapshot", lit(tag))
      agg(base.unionByName(feed), "folded")
        .unionByName(agg(TxLog.read(s, root).withColumn("sign", lit(1)),
          "post"))
        .select(col("snapshot"), col("c_mktsegment"), col("n"),
          col("sum_bal"))
        .orderBy("snapshot", "c_mktsegment")
    },
    Some("""WITH afterdel AS (
        SELECT * FROM customer WHERE c_custkey % 10 <> 5
      ), src AS (
        SELECT c_custkey, c_mktsegment, c_acctbal + 1000.0 AS c_acctbal
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 3000000, c_mktsegment, c_acctbal * 2.0
        FROM customer WHERE c_custkey % 10 = 7
      ), fin AS (
        SELECT c_mktsegment, c_acctbal FROM afterdel
        WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
        UNION ALL
        SELECT c_mktsegment, c_acctbal FROM src
      )
      SELECT 'folded' AS snapshot, c_mktsegment,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
      FROM fin GROUP BY 1, 2
      UNION ALL
      SELECT 'post', c_mktsegment, CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
      FROM fin GROUP BY 1, 2
      ORDER BY snapshot, c_mktsegment"""))

  /** Partitioned ingest ([[graft.sources.TxLog.commitPartitioned]]):
    * two event batches land PARTITIONED BY event_type — one manifest
    * entry per (batch, type) leaf whose stats derive from the dirname
    * alone (exact single-value bloom), so a point probe plans with ZERO
    * reads: no footers, no stat jobs, just the manifest. The gate
    * REQUIRES the 'click' probe reads strictly fewer leaves than the
    * table holds and spans BOTH batches, the partition column is still
    * served from the data files, and the internal partition copy never
    * leaks into the schema. Hash-checked: the full per-type aggregate
    * AND the pruned-read click aggregate (pruning loses no rows). */
  private val qTxlogPartitioned = QuerySpec(
    "q_txlog_partitioned",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_part")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val b = TextFunctions.portableBucket(col("event_id"), 2)
      require(TxLog.commitPartitioned(s, root, "p0",
        ev.filter(b === 0), "event_type") == 1)
      require(TxLog.commitPartitioned(s, root, "p1",
        ev.filter(b === 1), "event_type") == 2)
      def leaves(d: DataFrame) =
        d.inputFiles.map(f => f.substring(0, f.lastIndexOf('/'))).distinct
      val full = TxLog.read(s, root)
      require(!full.columns.contains("__pv"),
        "the internal partition copy must not leak into the table schema")
      val pruned = TxLog.readPrunedByKey(s, root, "event_type", "click")
        .getOrElse(sys.error("the click partition exists; probe must read"))
      require(leaves(pruned).length < leaves(full).length,
        "a value probe must skip the other partitions' leaves")
      require(leaves(pruned).length == 2,
        "the probe must hit exactly the click leaf of each batch")
      full.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("sum_value"))
        .withColumn("snapshot", lit("full"))
        .unionByName(
          pruned.filter(col("event_type") === "click")
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as("n"), sumExact(col("value")).as("sum_value"))
            .withColumn("snapshot", lit("pruned")))
        .select(col("snapshot"), col("event_type"), col("n"),
          col("sum_value"))
        .orderBy("snapshot", "event_type")
    },
    Some("""SELECT 'full' AS snapshot, event_type,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
      UNION ALL
      SELECT 'pruned', event_type, CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
      ORDER BY snapshot, event_type"""))

  /** Materialized-view maintenance over a MUTATING lakehouse table —
    * the end-to-end IVM composition: a consumer materializes a per-
    * segment (cnt, exact-sum) view at version 1, then refreshes it
    * through three [[graft.sources.TxLog.readChanges]] windows — a
    * plain append, a row-level DELETE, and a window holding BOTH a
    * MERGE and an OPTIMIZE — folding each signed feed with
    * [[AggOps.statsDeltaSigned]]. Copy-on-write rewrites fill the feed
    * with +1/−1 cancelling pairs for kept rows, and the compaction
    * re-adds every live row under new files; the signed fold must stay
    * exactly-once through all of it. The gate emits the maintained view
    * AND a from-scratch recompute of the final snapshot under different
    * tags; the oracle derives both from the raw table. */
  private val qTxlogIvm = QuerySpec(
    "q_txlog_ivm",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_ivm")
      TxLog.destroy(root)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val b = TextFunctions.portableBucket(col("c_custkey"), 2)
      TxLog.commit(root,
        Seq(TxLog.writeBatch(cust.filter(b === 0), root, "b0")))
      // §2.6 overlap (the q_stream_txlog_source shape): b1's data files
      // are invisible to the log until committed, so its write runs
      // behind the view's initial materialization; only the commit is
      // ordered after it (the v1 snapshot read must not see b1)
      val b1 = new java.util.concurrent.FutureTask[String](
        () => TxLog.writeBatch(cust.filter(b === 1), root, "b1"))
      val b1t = new Thread(b1, "graft-ivm-b1"); b1t.setDaemon(true)
      b1t.start()
      var state = AggOps.partialStats(TxLog.read(s, root, asOf = 1),
        Seq(col("c_mktsegment")), col("c_acctbal")).localCheckpoint()
      var from = 1
      def refreshTo(to: Int, wantRetractions: Boolean): Unit = {
        val feed = TxLog.readChanges(s, root, from, to)
          .getOrElse(sys.error(s"window ($from, $to] changed the table"))
        if (wantRetractions)
          require(feed.filter(col("sign") === -1).limit(1).count() == 1,
            "a rewrite window must carry -1 rows")
        val next = AggOps.statsDeltaSigned(state, feed,
          Seq(col("c_mktsegment")), col("c_acctbal"), col("sign"))
          .localCheckpoint()
        graft.core.Checkpoints.release(state)
        state = next
        from = to
      }
      val v2 = TxLog.commit(root, Seq(b1.get()))
      refreshTo(v2, wantRetractions = false)
      val v3 = TxLog.deleteWhere(s, root, "del", col("c_custkey") % 10 === 5)
      refreshTo(v3, wantRetractions = true)
      val updates = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
      val inserts = cust.filter(col("c_custkey") % 10 === 7)
        .withColumn("c_custkey", col("c_custkey") + 3000000L)
        .withColumn("c_acctbal", col("c_acctbal") * 2.0)
      val vM = TxLog.merge(s, root, "m", updates.unionByName(inserts),
        Seq("c_custkey"))
      require(vM == 4, s"merge must land as version 4, got $vM")
      val v5 = TxLog.optimize(s, root, "opt", targetFiles = 2)
      require(v5 == 5,
        "the compaction must land INSIDE the merge's refresh window")
      refreshTo(v5, wantRetractions = true)
      def shape(df: DataFrame, tag: String) = df
        .select(col("c_mktsegment"), col("cnt"),
          col("sum_dec").cast("double").as("sum_bal"))
        .withColumn("view", lit(tag))
      shape(state, "incremental")
        .unionByName(shape(AggOps.partialStats(TxLog.read(s, root),
          Seq(col("c_mktsegment")), col("c_acctbal")), "recompute"))
        .select(col("view"), col("c_mktsegment"), col("cnt"), col("sum_bal"))
        .orderBy("view", "c_mktsegment")
    },
    Some("""WITH afterdel AS (
        SELECT * FROM customer WHERE c_custkey % 10 <> 5
      ), src AS (
        SELECT c_custkey, c_mktsegment, c_acctbal + 1000.0 AS c_acctbal
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 3000000, c_mktsegment, c_acctbal * 2.0
        FROM customer WHERE c_custkey % 10 = 7
      ), fin AS (
        SELECT c_mktsegment, c_acctbal FROM afterdel
        WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
        UNION ALL
        SELECT c_mktsegment, c_acctbal FROM src
      )
      SELECT 'incremental' AS view, c_mktsegment,
        CAST(COUNT(c_acctbal) AS BIGINT) AS cnt,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
      FROM fin GROUP BY 1, 2
      UNION ALL
      SELECT 'recompute', c_mktsegment, CAST(COUNT(c_acctbal) AS BIGINT),
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
      FROM fin GROUP BY 1, 2
      ORDER BY view, c_mktsegment"""))

  /** Change-feed SUBSCRIPTION ([[graft.streaming.TxLogChangeStream]]):
    * the streaming-source half of the lakehouse loop — a consumer
    * subscribes to a mutating TxLog table and receives every commit as
    * a signed micro-batch it folds into a maintained view, never naming
    * a version itself. Three real row-changing micro-batches arrive
    * (MERGE upsert, deletion-vector DELETE, compaction — the gate
    * REQUIRES exactly three deliveries at one commit per batch), the
    * compaction batch's +1/−1 rows must cancel through the signed fold,
    * and the maintained view must hash-match the direct recompute of
    * the final table — exactly-once end to end. */
  private val qStreamTxlogCdc = QuerySpec(
    "q_stream_txlog_cdc",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_sub")
      TxLog.destroy(root)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      TxLog.commit(root, Seq(TxLog.writeBatch(cust, root, "b0")))  // v1
      // subscribe AFTER the base load; the view seeds from that snapshot
      var state = AggOps.partialStats(TxLog.read(s, root, asOf = 1),
        Seq(col("c_mktsegment")), col("c_acctbal")).localCheckpoint()
      val stream = new graft.streaming.TxLogChangeStream(
        s, root, startAfter = 1, maxVersionsPerBatch = 1)
      // the table mutates underneath the subscription: upsert, GDPR
      // delete (merge-on-read), then a compaction that churns every file
      val updates = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 500.0)
      val inserts = cust.filter(col("c_custkey") % 10 === 7)
        .withColumn("c_custkey", col("c_custkey") + 3000000L)
        .withColumn("c_acctbal", col("c_acctbal") * 2.0)
      TxLog.merge(s, root, "m", updates.unionByName(inserts),
        Seq("c_custkey"))                                          // v2
      TxLog.deleteWhereDV(s, root, "dv", col("c_custkey") % 7 === 3) // v3
      TxLog.optimize(s, root, "opt", targetFiles = 1)              // v4
      val delivered = stream.drain { (feed, _, _) =>
        val next = AggOps.statsDeltaSigned(state, feed,
          Seq(col("c_mktsegment")), col("c_acctbal"), col("sign"))
          .localCheckpoint()
        graft.core.Checkpoints.release(state)
        state = next
      }
      require(delivered == 3,
        s"three row-changing commits must arrive as three micro-batches, " +
          s"got $delivered")
      require(stream.position == 4,
        s"the subscription must be caught up at v4, got ${stream.position}")
      def shape(df: DataFrame, tag: String) = df
        .select(col("c_mktsegment"), col("cnt"),
          col("sum_dec").cast("double").as("sum_bal"))
        .withColumn("view", lit(tag))
      shape(state, "incremental")
        .unionByName(shape(AggOps.partialStats(TxLog.read(s, root),
          Seq(col("c_mktsegment")), col("c_acctbal")), "recompute"))
        .select(col("view"), col("c_mktsegment"), col("cnt"), col("sum_bal"))
        .orderBy("view", "c_mktsegment")
    },
    Some("""WITH src AS (
        SELECT c_custkey, c_mktsegment, c_acctbal + 500.0 AS c_acctbal
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 3000000, c_mktsegment, c_acctbal * 2.0
        FROM customer WHERE c_custkey % 10 = 7
      ), merged AS (
        SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
        UNION ALL
        SELECT c_custkey, c_mktsegment, c_acctbal FROM src
      ), fin AS (
        SELECT c_mktsegment, c_acctbal FROM merged WHERE c_custkey % 7 <> 3
      )
      SELECT 'incremental' AS view, c_mktsegment,
        CAST(COUNT(c_acctbal) AS BIGINT) AS cnt,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
      FROM fin GROUP BY 1, 2
      UNION ALL
      SELECT 'recompute', c_mktsegment, CAST(COUNT(c_acctbal) AS BIGINT),
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
      FROM fin GROUP BY 1, 2
      ORDER BY view, c_mktsegment"""))

  /** Commit audit trail ([[graft.sources.TxLog.history]]) — DESCRIBE
    * HISTORY over a table that exercises every action kind: a 2-file
    * ingest, a deletion-vector DELETE (zero file churn, one binding), a
    * metadata-only RENAME, and a compaction (1 added, 2 removed). The
    * action counts are deterministic given the fixture script, so the
    * oracle states them as constants — the same contract as
    * q_distcp_sync's copy/skip counts. */
  private val qTxlogHistory = QuerySpec(
    "q_txlog_history",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_hist")
      TxLog.destroy(root)
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      TxLog.commit(root, Seq(
        TxLog.writeBatch(n.filter(col("n_nationkey") < 12), root, "b0"),
        TxLog.writeBatch(n.filter(col("n_nationkey") >= 12), root, "b1")))
      TxLog.deleteWhereDV(s, root, "dv", col("n_nationkey") === 3)
      TxLog.renameColumn(s, root, "n_name", "nation_name")
      TxLog.optimize(s, root, "opt", targetFiles = 1)
      TxLog.history(s, root)
        .select(col("version"), col("n_added"), col("n_removed"),
          col("n_dv_bound"), col("n_dv_cleared"), col("schema_change"))
        .orderBy("version")
    },
    Some("""SELECT * FROM (VALUES
        (1, CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         CAST(0 AS BIGINT), false),
        (2, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT),
         CAST(0 AS BIGINT), false),
        (3, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         CAST(0 AS BIGINT), true),
        (4, CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT),
         CAST(0 AS BIGINT), false))
      AS t(version, n_added, n_removed, n_dv_bound, n_dv_cleared,
        schema_change)
      ORDER BY version"""))

  /** Incremental small-file compaction
    * ([[graft.sources.TxLog.optimizeIncremental]]) — the SCHEDULED
    * maintenance verb: four tiny ingest batches and one big batch land;
    * compaction rewrites only the small tail (the gate REQUIRES the big
    * batch survives byte-identical — cost tracks ingest rate, not table
    * size, the property a 100 TB table's maintenance loop needs) and is
    * content-neutral, which the oracle pins by recomputing the final
    * snapshot from the raw table. */
  private val qTxlogOptimizeInc = QuerySpec(
    "q_txlog_optimize_inc",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_optinc")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val b = TextFunctions.portableBucket(col("event_id"), 16)
      // the five ingest writes are independent — overlap them (guide
      // §2.6); commits stay sequential, so the version history and the
      // big-then-small layout are unchanged
      val paths = core.Graft.overlapJobs(
        (() => TxLog.writeBatch(ev.filter(b >= 4), root, "big")) +:
        (0 until 4).map(k =>
          () => TxLog.writeBatch(ev.filter(b === k), root, s"sm$k")))
      paths.foreach(p => TxLog.commit(root, Seq(p)))
      val bigPath = TxLog.liveFiles(root).find(_.endsWith("big")).get
      // scale-robust threshold: each small batch is ~1/12 of the big one
      // at any sf, so half the big batch's bytes cleanly separates them
      def dirBytes(p: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
          else f.length()
        walk(new java.io.File(p))
      }
      val v = TxLog.optimizeIncremental(s, root, "inc",
        smallBytes = math.max(1L, dirBytes(bigPath) / 2))
      require(v == 6, s"incremental optimize must land as version 6, got $v")
      val live = TxLog.liveFiles(root)
      require(live.contains(bigPath),
        "the big batch must survive byte-identical — cost tracks the " +
          "small-file tail, not table size")
      require(live.size == 2, s"four small files must become one: $live")
      TxLog.read(s, root)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** Manifest-level bloom point-lookup skipping
    * ([[graft.sources.TxLog.bloomBlob]] / `readPrunedByKey`): events land
    * as four user-bucketed batches whose blobs carry BOTH l-range stats
    * and a user_id bloom; a point lookup must skip at least one file on
    * the bloom alone (no footer reads — the gate REQUIRES the
    * inputFiles count drops) and lose no rows, which the oracle pins by
    * recomputing the user's aggregate from the raw table. */
  private val qTxlogBloomPrune = QuerySpec(
    "q_txlog_bloom_prune",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_bf")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val b = TextFunctions.portableBucket(col("user_id"), 4)
      // each batch's write + bloom-stats derivation is an independent
      // two-job chain — overlap the chains (guide §2.6); sequential
      // commits keep the history identical
      core.Graft.overlapJobs((0 until 4).map { k => () =>
          val batch = ev.filter(b === k)
          TxLog.writeBatch(batch, root, s"b$k") ->
            TxLog.statsWithBloom(batch, Seq("event_id"), "user_id")
        })
        .foreach(a => TxLog.commitWithStats(root, Seq(a)))
      // user 7 exists (user_id 0..149 at every sf); its batch is the one
      // its hash bucket chose — every other batch must bloom-skip
      val pruned = TxLog.readPrunedByKey(s, root, "user_id", "7").get
      require(pruned.inputFiles.length < TxLog.read(s, root).inputFiles.length,
        "a point lookup must skip files on the manifest bloom alone")
      pruned.filter(col("user_id") === 7)
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("sum_value"))
        .select(lit(7L).as("user_id"), col("n"), col("sum_value"))
    },
    Some("""SELECT CAST(7 AS BIGINT) AS user_id,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events WHERE user_id = 7"""))

  /** Exactly-once across a stream RESTART: run one AvailableNow pass
    * over two staged files into a TxLog sink, STOP, stage a third file,
    * and start a SECOND query on the SAME checkpoint — the restarted
    * stream must process only the new file (the checkpoint's file-source
    * log is the dedup state). The proof is the data itself: the sink is
    * append-only, so any reprocessing would double rows and break the
    * hash against the oracle's one-copy aggregate; the gate additionally
    * REQUIRES the restarted run appended exactly one commit. This is
    * the recovery contract a production ingest relies on every deploy. */
  private val qStreamRestart = QuerySpec(
    "q_stream_restart",
    (s, dir) => {
      import graft.sources.TxLog
      val srcDir = java.nio.file.Paths.get(Graft.scratch(dir, "restart_src"))
      val tbl = Graft.scratch(dir, "restart_tbl")
      val ckpt = Graft.scratch(dir, "restart_ckpt")
      Seq(srcDir.toString, tbl, ckpt).foreach(rmTreeQ)
      java.nio.file.Files.createDirectories(srcDir)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val b = TextFunctions.portableBucket(col("event_id"), 3)
      def stage(k: Int): Unit = {
        val tmp = s"$srcDir/_stage_$k"
        ev.filter(b === k).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          srcDir.resolve(s"split_$k.parquet"))
        rmTreeQ(tmp)
      }
      def runPass(): Unit = {
        val feed = s.readStream
          .schema("event_id BIGINT, event_type STRING, value DOUBLE")
          .parquet(srcDir.toString)
        runAvailableNow(s, feed.writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
              TxLog.commit(tbl,
                Seq(TxLog.writeBatch(batch.coalesce(1), tbl, s"in_${
                  TxLog.latestVersion(tbl) + 1}")))
              ()
          }
          .option("checkpointLocation", ckpt))
      }
      stage(0); stage(1)
      runPass()
      val afterFirst = TxLog.latestVersion(tbl)
      require(afterFirst >= 1, "the first pass must commit at least once")
      stage(2)
      runPass()
      require(TxLog.latestVersion(tbl) == afterFirst + 1,
        "the restarted stream must append EXACTLY one commit — the " +
          "checkpoint's source log already covers the first two files")
      TxLog.read(s, tbl)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events WHERE event_id IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** Right-to-be-forgotten composition (DELETE → checkpoint →
    * expireManifests → VACUUM): one user's rows are deleted and the
    * maintenance loop then PHYSICALLY reclaims every file that held
    * them — the gate proves absence by scanning the surviving data
    * files raw (no manifest mediation) and proves the expired history
    * is gone loudly, not partially. This is the compliance story a
    * lakehouse DELETE alone does NOT give (the old file stays on disk
    * for time travel until vacuum). Hash-checked output: the final
    * snapshot, which the oracle recomputes as the table minus the
    * forgotten user. */
  private val qTxlogForget = QuerySpec(
    "q_txlog_forget",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_forget")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val b = TextFunctions.portableBucket(col("user_id"), 4)
      (0 until 4).foreach { k =>
        TxLog.commit(root,
          Seq(TxLog.writeBatch(ev.filter(b === k), root, s"b$k")))
      }
      val vDel = TxLog.deleteWhere(s, root, "forget", col("user_id") === 7)
      require(vDel == 5, s"delete must land as version 5, got $vDel")
      // retire pre-delete history, then reclaim the files it pinned
      TxLog.checkpoint(root)
      TxLog.expireManifests(root)
      val reclaimed = TxLog.vacuum(root)
      require(reclaimed.nonEmpty,
        "vacuum must physically reclaim the file that held the user")
      // absence proof against the RAW surviving files — no manifest in
      // the loop, so a stale copy would be caught
      require(s.read.parquet(s"$root/data/*")
          .filter(col("user_id") === 7).isEmpty,
        "the forgotten user must not appear in ANY surviving data file")
      // the pre-delete snapshot is gone LOUDLY, never served partially
      val expired =
        try { TxLog.read(s, root, asOf = 4).count(); false }
        catch { case _: IllegalStateException => true }
      require(expired, "expired pre-delete history must refuse to resolve")
      TxLog.read(s, root)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events WHERE user_id IS NULL OR user_id <> 7
      GROUP BY 1 ORDER BY 1"""))

  /** Zero-copy SHALLOW CLONE ([[graft.sources.TxLog.cloneShallow]]):
    * the table forks into a second log that references the SAME data
    * files — one manifest write, no byte moved (REQUIREd: no `data/`
    * dir exists under the clone until its own first rewrite) — and the
    * two tables then diverge: the clone takes a DV delete plus a
    * merge-on-read update, the SOURCE takes its own copy-on-write
    * delete, and neither mutation crosses the fork (immutable files +
    * sidecar bindings are per-log facts; the clone keeps serving the
    * source's RETIRED pre-delete file, the retention-window property).
    * Hash-checked: both post-divergence snapshots, each replayed by the
    * oracle from the raw table. */
  private val qTxlogClone = QuerySpec(
    "q_txlog_clone",
    (s, dir) => {
      import graft.sources.TxLog
      val src = Graft.scratch(dir, "txlog_clsrc")
      val dst = Graft.scratch(dir, "txlog_cldst")
      TxLog.destroy(src); TxLog.destroy(dst)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val b = TextFunctions.portableBucket(col("c_custkey"), 2)
      TxLog.commit(src,
        Seq(TxLog.writeBatch(cust.filter(b === 0), src, "b0")))
      TxLog.commit(src,
        Seq(TxLog.writeBatch(cust.filter(b === 1), src, "b1")))
      require(TxLog.cloneShallow(src, dst) == 1,
        "the fork is one commit, the clone's version 1")
      require(!new java.io.File(s"$dst/data").exists(),
        "shallow: cloning a table must move ZERO data bytes")
      // diverge the clone (merge-on-read both ways: still zero copies)
      require(TxLog.deleteWhereDV(s, dst, "cd",
        col("c_custkey") % 10 === 1) == 2)
      require(TxLog.updateWhereDV(s, dst, "cu",
        col("c_custkey") % 10 === 2,
        Seq("c_acctbal" -> (col("c_acctbal") + 500.0))) == 3)
      // diverge the source with a copy-on-write delete: the file the
      // clone references is RETIRED from the source's manifest, but
      // stays on disk until a source vacuum — the clone keeps reading it
      require(TxLog.deleteWhere(s, src, "sd",
        col("c_custkey") % 10 === 3) == 3)
      def agg(df: DataFrame, tag: String) =
        df.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sumExact(col("c_acctbal")).as("sum_bal"))
          .withColumn("snapshot", lit(tag))
      agg(TxLog.read(s, dst), "clone")
        .unionByName(agg(TxLog.read(s, src), "src"))
        .select(col("snapshot"), col("c_mktsegment"), col("n"),
          col("sum_bal"))
        .orderBy("snapshot", "c_mktsegment")
    },
    Some("""WITH clone AS (
        SELECT c_mktsegment,
          CASE WHEN c_custkey % 10 = 2 THEN c_acctbal + 500.0
               ELSE c_acctbal END AS bal
        FROM customer WHERE NOT COALESCE(c_custkey % 10 = 1, FALSE)
      ), src AS (
        SELECT c_mktsegment, c_acctbal AS bal FROM customer
        WHERE NOT COALESCE(c_custkey % 10 = 3, FALSE)
      )
      SELECT 'clone' AS snapshot, c_mktsegment,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(bal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
      FROM clone GROUP BY 1, 2
      UNION ALL
      SELECT 'src', c_mktsegment, CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(bal AS DECIMAL(18,6))) AS DOUBLE)
      FROM src GROUP BY 1, 2
      ORDER BY snapshot, c_mktsegment"""))

  /** Right-to-be-forgotten, MERGE-ON-READ edition (deleteWhereDV →
    * optimizeDv → checkpoint → expireManifests → vacuum): the user's
    * rows are masked INSTANTLY with zero data rewrite (the 100 TB
    * response-time story — q_txlog_forget's copy-on-write path pays the
    * rewrite up front), and the scheduled maintenance loop then makes
    * the erasure PHYSICAL. The user's rows live alone in one batch, so
    * the DV masks 100% of that file and [[graft.sources.TxLog
    * .optimizeDv]]'s threshold rewrite retires it to NOTHING — while a
    * second, thinly-masked batch stays under the threshold and keeps
    * its cheap mask (REQUIREd: still live, still bound). After
    * vacuum, the gate proves absence against the RAW surviving files
    * and proves both the retired batch and its orphaned sidecar were
    * reclaimed. Hash-checked output: the final snapshot, recomputed by
    * the oracle from the raw table with both delete predicates. */
  private val qTxlogForgetDv = QuerySpec(
    "q_txlog_forget_dv",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_fgdv")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      TxLog.commit(root, Seq(TxLog.writeBatch(
        ev.filter(col("user_id") === 7), root, "b_user7")))
      TxLog.commit(root, Seq(TxLog.writeBatch(
        ev.filter(!(col("user_id") === 7)), root, "b_rest")))
      val before = TxLog.liveFiles(root)
      // the forget request: instant logical erasure, zero rewrite
      require(TxLog.deleteWhereDV(s, root, "fg",
        col("user_id") === 7) == 3, "the forget masks as version 3")
      // unrelated thin delete on the other batch — must survive the
      // threshold materialization as a mask
      require(TxLog.deleteWhereDV(s, root, "thin",
        col("event_id") % 31 === 0 && col("user_id") =!= 7) == 4,
        "the thin delete masks as version 4")
      require(TxLog.liveFiles(root) == before,
        "merge-on-read: both deletes rewrite nothing")
      require(TxLog.read(s, root)
          .filter(col("user_id") === 7).isEmpty,
        "the forgotten user is logically gone the instant the mask lands")
      // maintenance window: materialize ONLY the heavily-masked file
      require(TxLog.optimizeDv(s, root, "mat", minMaskedFraction = 0.5) == 5,
        "the threshold rewrite lands as version 5")
      val live = TxLog.liveFiles(root)
      require(live.exists(_.endsWith("b_rest")) &&
        TxLog.snapshot(root).dvs.keySet == Set(live.find(_.endsWith("b_rest")).get),
        "the thinly-masked batch must stay live AND bound — rewriting it " +
          "would be the copy-on-write cost the threshold exists to avoid")
      require(!live.exists(_.endsWith("b_user7")),
        "the fully-masked batch rewrites to NOTHING")
      TxLog.checkpoint(root)
      TxLog.expireManifests(root)
      val reclaimed = TxLog.vacuum(root)
      require(reclaimed.exists(_.endsWith("b_user7")),
        "vacuum must physically reclaim the user's batch")
      require(reclaimed.exists(_.endsWith("fg")),
        "vacuum must reclaim the orphaned forget sidecar too")
      require(s.read.parquet(s"$root/data/b_rest")
          .filter(col("user_id") === 7).isEmpty,
        "no surviving data file may hold the forgotten user")
      TxLog.read(s, root)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events
      WHERE NOT COALESCE(user_id = 7, FALSE)
        AND NOT COALESCE(event_id % 31 = 0 AND user_id <> 7, FALSE)
      GROUP BY 1 ORDER BY 1"""))

  /** Timestamp time travel ([[graft.sources.TxLog.readAsOfTimestamp]]):
    * the gate captures a wall-clock instant between two commits and
    * reads the table AS OF that instant — resolution must pick the
    * first commit (newest at-or-before, the Delta TIMESTAMP AS OF
    * rule). Hash-checked output: the as-of snapshot and the latest
    * snapshot, recomputed by the oracle through the same portable
    * bucket split. */
  private val qTxlogTimeTravel = QuerySpec(
    "q_txlog_time_travel",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_ts")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val b = TextFunctions.portableBucket(col("event_id"), 2)
      TxLog.commit(root, Seq(TxLog.writeBatch(ev.filter(b === 0), root, "b0")))
      Thread.sleep(15)
      val tMid = System.currentTimeMillis()
      Thread.sleep(15)
      TxLog.commit(root, Seq(TxLog.writeBatch(ev.filter(b === 1), root, "b1")))
      require(TxLog.versionAt(root, tMid) == 1,
        "the instant between the commits must resolve to version 1")
      def agg(df: DataFrame, tag: String) =
        df.agg(count(col("value")).as("cnt"),
            sumExact(col("value")).as("sum_value"))
          .select(lit(tag).as("dim"), col("cnt"), col("sum_value"))
      agg(TxLog.readAsOfTimestamp(s, root, tMid), "at_mid")
        .unionByName(agg(TxLog.read(s, root), "latest"))
        .orderBy("dim")
    },
    Some("""WITH ev AS (SELECT event_id, value,
          CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT)
            % 2 AS b
        FROM events WHERE event_id IS NOT NULL)
      SELECT 'at_mid' AS dim, CAST(COUNT(value) AS BIGINT) AS cnt,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM ev WHERE b = 0
      UNION ALL
      SELECT 'latest', CAST(COUNT(value) AS BIGINT),
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      FROM ev
      ORDER BY 1"""))

  /** Column mapping ([[graft.sources.TxLog.renameColumn]] /
    * [[graft.sources.TxLog.dropColumn]] / appendMapped): RENAME and DROP
    * land as metadata-only commits (zero data files touched — asserted),
    * an append after the verbs carries logical names into physical
    * storage, and time travel across the rename resolves the OLD
    * logical schema. Hash-checked output: the pre-rename snapshot
    * aggregated under its old name and the post-verb snapshot under the
    * new one, both recomputed by the oracle via the portable bucket. */
  private val qTxlogRename = QuerySpec(
    "q_txlog_rename",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_ren")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val b = TextFunctions.portableBucket(col("event_id"), 2)
      TxLog.commit(root, Seq(TxLog.writeBatch(ev.filter(b === 0), root, "b0")))
      val files1 = TxLog.liveFiles(root)
      TxLog.renameColumn(s, root, "value", "amount")     // v2: metadata only
      TxLog.dropColumn(s, root, "event_type")            // v3: metadata only
      require(TxLog.liveFiles(root) == files1,
        "rename/drop must not touch a single data file")
      // post-verb append arrives with LOGICAL names; the mapped writer
      // stores them under the table's physical schema
      TxLog.appendMapped(s, root,
        ev.filter(b === 1).select(col("event_id"), col("value").as("amount")),
        "b1")
      val pre = TxLog.read(s, root, asOf = 1)
      require(pre.columns.toSeq == Seq("event_id", "event_type", "value"),
        s"time travel must serve the old schema: ${pre.columns.mkString(",")}")
      val post = TxLog.read(s, root, mergeSchema = true)
      require(post.columns.toSeq == Seq("event_id", "amount"),
        s"latest must serve the mapped schema: ${post.columns.mkString(",")}")
      pre.agg(count(col("value")).as("cnt"), sumExact(col("value")).as("total"))
        .select(lit("pre_rename").as("dim"), col("cnt"), col("total"))
        .unionByName(post
          .agg(count(col("amount")).as("cnt"),
            sumExact(col("amount")).as("total"))
          .select(lit("post_rename").as("dim"), col("cnt"), col("total")))
        .orderBy("dim")
    },
    Some("""WITH ev AS (SELECT event_id, value,
          CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT)
            % 2 AS b
        FROM events WHERE event_id IS NOT NULL)
      SELECT 'post_rename' AS dim, CAST(COUNT(value) AS BIGINT) AS cnt,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM ev
      UNION ALL
      SELECT 'pre_rename', CAST(COUNT(value) AS BIGINT),
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      FROM ev WHERE b = 0
      ORDER BY 1"""))

  /** Row-level DML on a COLUMN-MAPPED table
    * ([[graft.sources.TxLog.deleteWhere]]/[[graft.sources.TxLog.updateWhere]]/
    * [[graft.sources.TxLog.merge]] after
    * [[graft.sources.TxLog.renameColumn]] — the r12 composition hole):
    * after `c_acctbal` renames to `balance`, DELETE's predicate,
    * UPDATE's predicate + SET, and MERGE's keys + source schema all
    * address the LOGICAL name a user sees, while the data files keep
    * serving under their physical names untouched by the rename. The
    * gate also REQUIRES that addressing the retired physical name is
    * rejected (the silent-stale-match failure mode), and that time
    * travel to a pre-rename version still serves the old schema.
    * Hash-checked output: the post-DML snapshot and the pre-rename
    * time-travel snapshot, both replayed by the oracle in SQL. */
  private val qTxlogMappedDml = QuerySpec(
    "q_txlog_mapped_dml",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_mdml")
      TxLog.destroy(root)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      TxLog.commit(root, Seq(TxLog.writeBatch(
        cust.filter(col("c_custkey") < 750), root, "b_low")))
      TxLog.commit(root, Seq(TxLog.writeBatch(
        cust.filter(col("c_custkey") >= 750), root, "b_high")))
      val filesPre = TxLog.liveFiles(root)
      TxLog.renameColumn(s, root, "c_acctbal", "balance") // v3: metadata
      require(TxLog.liveFiles(root) == filesPre,
        "rename must not touch a single data file")
      // DML addresses the NEW logical name against physical storage
      TxLog.deleteWhere(s, root, "d", col("balance") < 0.0)
      TxLog.updateWhere(s, root, "u", col("c_custkey") % 10 === 0,
        Seq("balance" -> (col("balance") + lit(1000.0))))
      TxLog.merge(s, root, "m",
        cust.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), col("c_mktsegment"),
            (col("c_acctbal") * 2.0).as("balance")),
        Seq("c_custkey"))
      // the RETIRED physical name must be rejected, not silently matched
      val rejected =
        try { TxLog.deleteWhere(s, root, "bad", col("c_acctbal") < 0.0); "" }
        catch { case e: IllegalArgumentException => e.getMessage }
      require(rejected.contains("logical"),
        s"DML by the retired physical name must be rejected, got: $rejected")
      val pre = TxLog.read(s, root, asOf = 2)
      require(pre.columns.toSeq ==
        Seq("c_custkey", "c_mktsegment", "c_acctbal"),
        s"time travel must serve the pre-rename schema: " +
          pre.columns.mkString(","))
      val post = TxLog.read(s, root)
      require(post.columns.toSeq ==
        Seq("c_custkey", "c_mktsegment", "balance"),
        s"latest must serve the mapped schema: ${post.columns.mkString(",")}")
      post.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sumExact(col("balance")).as("sum_bal"))
        .withColumn("snapshot", lit("post"))
        .unionByName(pre.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sumExact(col("c_acctbal")).as("sum_bal"))
          .withColumn("snapshot", lit("pre_rename")))
        .select(col("snapshot"), col("c_mktsegment"), col("n"),
          col("sum_bal"))
        .orderBy("snapshot", "c_mktsegment")
    },
    Some("""WITH base AS (
        SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
      ), kept AS (
        SELECT * FROM base WHERE NOT COALESCE(c_acctbal < 0.0, FALSE)
      ), upd AS (
        SELECT c_custkey, c_mktsegment,
          CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000.0
               ELSE c_acctbal END AS bal
        FROM kept
      ), src AS (
        SELECT c_custkey, c_mktsegment, c_acctbal * 2.0 AS bal
        FROM base WHERE c_custkey % 7 = 0
      ), merged AS (
        SELECT c_mktsegment, bal FROM upd
        WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
        UNION ALL
        SELECT c_mktsegment, bal FROM src
      )
      SELECT 'post' AS snapshot, c_mktsegment,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(bal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
      FROM merged GROUP BY 1, 2
      UNION ALL
      SELECT 'pre_rename', c_mktsegment, CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
      FROM base GROUP BY 1, 2
      ORDER BY snapshot, c_mktsegment"""))

  /** One-time catalog registration for the SQL-surface gates: the graft
    * [[graft.sources.GraftCatalog]] under the name `graft`, its warehouse
    * in the scratch root ([[Graft.scratch]]) of the first dataset a
    * session registers it for (per-dataset state lives in per-dataset
    * TABLE names, so the session-wide catalog instance can never serve a
    * stale dir — the q_external_table lesson). CatalogManager
    * instantiates lazily on first `graft.` reference and caches; conf
    * set-before-use is the supported runtime registration path (same as
    * Delta's). */
  private def sqlCatalog(s: SparkSession, dir: String): Unit = {
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", Graft.scratch(dir, "sql_warehouse"))
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.sql")
  }

  private def dsTag(dir: String): String =
    new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")

  /** SQL MERGE INTO through the DataSourceV2 catalog
    * ([[graft.sources.GraftCatalog]] +
    * [[graft.plans.GraftSqlResolution]]): the WHOLE verb is SQL text —
    * `CREATE TABLE ... USING graft LOCATION`, then `MERGE INTO ... WHEN
    * MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`, then a
    * plain SELECT over the table name — exercising name resolution, the
    * relation→snapshot rewrite, and the MERGE statement→
    * [[graft.sources.TxLog.merge]] rewrite end to end. The data path is
    * exactly q_txlog_merge's oracle-gated verb; what this gate proves is
    * the SQL identity (VERDICT r12 item 1: "the first thing a real user
    * types"). */
  private val qSqlMergeInto = QuerySpec(
    "q_sql_merge_into",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      val root = Graft.scratch(dir, "sqlmrg")
      TxLog.destroy(root)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      TxLog.commit(root, Seq(TxLog.writeBatch(cust, root, "b0")))
      s.sql(s"DROP TABLE IF EXISTS graft.sql.cust_$tag")
      s.sql(s"CREATE TABLE graft.sql.cust_$tag USING graft LOCATION '$root'")
      cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .unionByName(cust.filter(col("c_custkey") % 10 === 3)
          .withColumn("c_custkey", col("c_custkey") + 1000000L)
          .withColumn("c_acctbal", col("c_acctbal") * 2.0))
        .createOrReplaceTempView(s"mrg_src_$tag")
      s.sql(s"""MERGE INTO graft.sql.cust_$tag t USING mrg_src_$tag s
        ON t.c_custkey = s.c_custkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      s.sql(s"""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
        FROM graft.sql.cust_$tag
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    },
    Some("""WITH src AS (
        SELECT c_custkey, c_mktsegment, c_acctbal + 1000.0 AS c_acctbal
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 1000000, c_mktsegment, c_acctbal * 2.0
        FROM customer WHERE c_custkey % 10 = 3
      ), merged AS (
        SELECT c_mktsegment, c_acctbal FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
        UNION ALL
        SELECT c_mktsegment, c_acctbal FROM src
      )
      SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
      FROM merged GROUP BY 1 ORDER BY 1"""))

  /** The key-set DELETE shape of SQL MERGE
    * (`WHEN MATCHED THEN DELETE` alone → [[graft.sources.TxLog.deleteByKeys]]):
    * the source carries ONLY key columns (no full schema — the shape
    * [[graft.sources.TxLog.merge]] cannot express), matched keys leave
    * the table, unmatched source keys are ignored, and file pruning is
    * REQUIREd — the batch holding no matched key survives unrewritten
    * (the GDPR "forget this key list" scale shape). */
  private val qSqlMergeDelete = QuerySpec(
    "q_sql_merge_delete",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      val root = Graft.scratch(dir, "sqlmdel")
      TxLog.destroy(root)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val pLow = TxLog.writeBatch(
        cust.filter(col("c_custkey") < 750), root, "b_low")
      val pHigh = TxLog.writeBatch(
        cust.filter(col("c_custkey") >= 750), root, "b_high")
      TxLog.commit(root, Seq(pLow)); TxLog.commit(root, Seq(pHigh))
      s.sql(s"DROP TABLE IF EXISTS graft.sql.cdel_$tag")
      s.sql(s"CREATE TABLE graft.sql.cdel_$tag USING graft LOCATION '$root'")
      // key-only source, confined to the low batch (+ absent keys)
      cust.filter(col("c_custkey") % 13 === 0 && col("c_custkey") < 750)
        .select(col("c_custkey"))
        .unionByName(cust.select((col("c_custkey") + 5000000L)
          .as("c_custkey")).limit(5))
        .createOrReplaceTempView(s"del_src_$tag")
      s.sql(s"""MERGE INTO graft.sql.cdel_$tag t USING del_src_$tag s
        ON t.c_custkey = s.c_custkey
        WHEN MATCHED THEN DELETE""")
      require(TxLog.liveFiles(root).contains(pHigh),
        "file pruning: the batch holding no matched key must survive")
      require(!TxLog.liveFiles(root).contains(pLow),
        "the matched batch must be rewritten")
      s.sql(s"""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
        FROM graft.sql.cdel_$tag
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    },
    Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
      FROM customer
      WHERE NOT (c_custkey % 13 = 0 AND c_custkey < 750)
      GROUP BY 1 ORDER BY 1"""))

  /** Zero-copy CONVERT of a plain parquet directory into a TxLog table
    * ([[graft.sources.TxLog.convertParquet]], surfaced as the
    * `CONVERT TO GRAFT '<dir>' STATS (…)` SQL statement — Delta's
    * CONVERT TO DELTA analog; reference: fs2img provided storage): the
    * directory's part files MOVE (rename, no bytes copied — REQUIREd:
    * the exact part-file names survive into the batch dir) into the
    * first commit, manifest stats derive in one pass, and the full
    * lakehouse surface works from that moment — proven by running a
    * SQL DELETE through the catalog on the converted table before the
    * hash-checked read. */
  private val qTxlogConvert = QuerySpec(
    "q_txlog_convert",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      val root = Graft.scratch(dir, "convert")
      TxLog.destroy(root)
      t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
        .write.mode("overwrite").parquet(root)
      val partsBefore = new java.io.File(root).listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.getName).toSet
      require(partsBefore.nonEmpty, "fixture must land plain part files")
      val v = s.sql(s"CONVERT TO GRAFT '$root' STATS (s_suppkey)")
        .head().getInt(0)
      require(v == 1, s"convert must seed version 1: $v")
      require(TxLog.liveFiles(root) == Seq(s"$root/data/b_convert0"),
        "convert must commit exactly the moved batch dir")
      val partsAfter = new java.io.File(s"$root/data/b_convert0")
        .listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.getName).toSet
      require(partsAfter == partsBefore,
        "zero copy: the exact part-file names must survive the move")
      s.sql(s"DROP TABLE IF EXISTS graft.sql.conv_$tag")
      s.sql(s"CREATE TABLE graft.sql.conv_$tag USING graft LOCATION '$root'")
      // the full verb surface works from the seed commit on
      s.sql(s"DELETE FROM graft.sql.conv_$tag WHERE s_acctbal < 0.0")
      s.sql(s"""SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
        FROM graft.sql.conv_$tag
        GROUP BY s_nationkey ORDER BY s_nationkey""")
    },
    Some("""SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
      FROM supplier WHERE NOT COALESCE(s_acctbal < 0.0, FALSE)
      GROUP BY 1 ORDER BY 1"""))

  /** SQL RESTORE + SHALLOW CLONE ([[graft.plans.GraftSqlParser]] →
    * [[graft.sources.TxLog.restore]]/[[graft.sources.TxLog.cloneShallow]]):
    * a table forks zero-copy at version 1 into a MANAGED catalog table
    * (REQUIREd: no data directory under the clone at fork time), the
    * source then ROLLS BACK to version 1 as one ordinary commit — and
    * the pre-restore snapshot still time-travels. Hash-checked output:
    * the clone, the restored source, and the pre-restore source, all
    * read back through catalog names. */
  private val qSqlRestoreClone = QuerySpec(
    "q_sql_restore_clone",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      val root = Graft.scratch(dir, "sqlrc")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .filter(col("event_id").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"))
      val b = TextFunctions.portableBucket(col("event_id"), 2)
      TxLog.commit(root, Seq(TxLog.writeBatch(ev.filter(b === 0), root, "b0")))
      TxLog.commit(root, Seq(TxLog.writeBatch(ev.filter(b === 1), root, "b1")))
      s.sql(s"DROP TABLE IF EXISTS graft.sql.rc_$tag")
      s.sql(s"DROP TABLE IF EXISTS graft.sql.rcc_$tag") // managed: data too
      s.sql(s"CREATE TABLE graft.sql.rc_$tag USING graft LOCATION '$root'")
      val cloneDir = s.sql(
        s"CREATE TABLE graft.sql.rcc_$tag SHALLOW CLONE graft.sql.rc_$tag " +
          "VERSION AS OF 1").head().getString(0)
      require(!new java.io.File(s"$cloneDir/data").exists(),
        "a shallow clone must hold no data directory at fork time")
      require(s.sql(s"RESTORE graft.sql.rc_$tag TO VERSION AS OF 1")
        .head().getInt(0) == 3,
        "the restore must land as ordinary version 3")
      def agg(table: String, dim: String, extra: String = "") =
        s"""SELECT '$dim' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
          FROM $table $extra"""
      s.sql(agg(s"graft.sql.rcc_$tag", "clone") +
        " UNION ALL " + agg(s"graft.sql.rc_$tag", "src_restored") +
        " UNION ALL " + agg(s"graft.sql.rc_$tag", "src_prerestore",
          "VERSION AS OF 2") +
        " ORDER BY dim")
    },
    Some("""WITH ev AS (SELECT event_id, value,
          CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT)
            % 2 AS b
        FROM events WHERE event_id IS NOT NULL)
      SELECT 'clone' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM ev WHERE b = 0
      UNION ALL
      SELECT 'src_prerestore', CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      FROM ev
      UNION ALL
      SELECT 'src_restored', CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      FROM ev WHERE b = 0
      ORDER BY dim"""))

  /** SQL time travel through the catalog: the table is CREATEd empty
    * with a declared schema, populated by two `INSERT INTO ... SELECT`
    * statements (each one atomic commit via the V1 write fallback →
    * [[graft.sources.TxLog.appendMapped]]), then queried at
    * `VERSION AS OF 1` and at latest in one statement — the DSv2
    * time-travel contract routing through
    * [[graft.sources.GraftCatalog.loadTable(ident,version)]]. */
  private val qSqlTimeTravel = QuerySpec(
    "q_sql_time_travel",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      val root = Graft.scratch(dir, "sqltt")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .filter(col("event_id").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"))
      val b = TextFunctions.portableBucket(col("event_id"), 2)
      ev.filter(b === 0).createOrReplaceTempView(s"tt_b0_$tag")
      ev.filter(b === 1).createOrReplaceTempView(s"tt_b1_$tag")
      s.sql(s"DROP TABLE IF EXISTS graft.sql.ev_$tag")
      s.sql(s"""CREATE TABLE graft.sql.ev_$tag
        (event_id BIGINT, event_type STRING, value DOUBLE)
        USING graft LOCATION '$root'""")
      s.sql(s"INSERT INTO graft.sql.ev_$tag SELECT * FROM tt_b0_$tag")
      s.sql(s"INSERT INTO graft.sql.ev_$tag SELECT * FROM tt_b1_$tag")
      s.sql(s"""SELECT 'v1' AS snapshot, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM graft.sql.ev_$tag VERSION AS OF 1
        UNION ALL
        SELECT 'v2', CAST(COUNT(*) AS BIGINT),
          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        FROM graft.sql.ev_$tag
        ORDER BY snapshot""")
    },
    Some("""WITH ev AS (SELECT event_id, value,
          CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT)
            % 2 AS b
        FROM events WHERE event_id IS NOT NULL)
      SELECT 'v1' AS snapshot, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM ev WHERE b = 0
      UNION ALL
      SELECT 'v2', CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      FROM ev
      ORDER BY snapshot"""))

  /** SQL DELETE + UPDATE statements through the catalog — the row-verb
    * statements rewriting to [[graft.sources.TxLog.deleteWhere]] /
    * [[graft.sources.TxLog.updateWhere]] with SQL DELETE/UPDATE
    * semantics intact (NULL-predicate rows kept / not updated — the
    * COALESCE in the oracle replays exactly that). */
  private val qSqlRowDml = QuerySpec(
    "q_sql_row_dml",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      val root = Graft.scratch(dir, "sqldml")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      TxLog.commit(root, Seq(TxLog.writeBatch(ev, root, "b0")))
      s.sql(s"DROP TABLE IF EXISTS graft.sql.evdml_$tag")
      s.sql(s"CREATE TABLE graft.sql.evdml_$tag USING graft LOCATION '$root'")
      s.sql(s"DELETE FROM graft.sql.evdml_$tag WHERE value < 100.0")
      s.sql(s"UPDATE graft.sql.evdml_$tag SET value = value * 2.0 " +
        "WHERE event_id % 7 = 0")
      s.sql(s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM graft.sql.evdml_$tag
        GROUP BY event_type ORDER BY event_type""")
    },
    Some("""WITH kept AS (
        SELECT event_id, event_type, value FROM events
        WHERE NOT COALESCE(value < 100.0, FALSE)
      ), upd AS (
        SELECT event_type,
          CASE WHEN event_id % 7 = 0 THEN value * 2.0 ELSE value END AS value
        FROM kept
      )
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM upd GROUP BY 1 ORDER BY 1"""))

  /** SQL ALTER TABLE ADD COLUMN through the catalog
    * ([[graft.sources.TxLog.addColumn]] — a METADATA-ONLY commit, the
    * Delta ADD COLUMNS analogue): the new column appears typed and
    * null-filled over every pre-add file (REQUIREd zero data files
    * touched), is a legal UPDATE SET target BEFORE any file carries it,
    * fills from INSERT from there on, and time travel to the pre-add
    * version does not show it. The final aggregate mixes null-filled,
    * UPDATE-materialized, and INSERT-supplied values of the column —
    * any wrong null-fill or lost evolution breaks the hash. */
  private val qSqlAddColumn = QuerySpec(
    "q_sql_add_column",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      val root = Graft.scratch(dir, "sqladdc")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      TxLog.commit(root, Seq(TxLog.writeBatch(ev, root, "b0")))
      s.sql(s"DROP TABLE IF EXISTS graft.sql.evadd_$tag")
      s.sql(s"CREATE TABLE graft.sql.evadd_$tag USING graft LOCATION '$root'")
      val filesPre = TxLog.liveFiles(root)
      s.sql(s"ALTER TABLE graft.sql.evadd_$tag ADD COLUMN bonus DOUBLE")
      require(TxLog.liveFiles(root) == filesPre,
        "ADD COLUMN must not write or touch a single data file")
      require(s.sql(s"SELECT * FROM graft.sql.evadd_$tag VERSION AS OF 1")
        .columns.toSeq == Seq("event_id", "event_type", "value"),
        "time travel must serve the pre-add schema")
      // SET the added column before any data file carries it
      s.sql(s"UPDATE graft.sql.evadd_$tag SET bonus = value * 0.1 " +
        "WHERE event_id % 5 = 0")
      // INSERT supplies it (reading the pre-update snapshot, so the
      // oracle replays from the source table alone)
      s.sql(s"INSERT INTO graft.sql.evadd_$tag " +
        "SELECT event_id + 1000000, event_type, value * 2.0, value " +
        s"FROM graft.sql.evadd_$tag VERSION AS OF 1 WHERE event_id % 11 = 0")
      s.sql(s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(bonus) AS BIGINT) AS n_bonus,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        CAST(SUM(CAST(bonus AS DECIMAL(18,6))) AS DOUBLE) AS sum_bonus
        FROM graft.sql.evadd_$tag
        GROUP BY event_type ORDER BY event_type""")
    },
    Some("""WITH base AS (
        SELECT event_id, event_type, value FROM events
      ), upd AS (
        SELECT event_type, value,
          CASE WHEN event_id % 5 = 0 THEN value * 0.1 ELSE NULL END AS bonus
        FROM base
      ), ins AS (
        SELECT event_type, value * 2.0 AS value, value AS bonus
        FROM base WHERE event_id % 11 = 0
      ), allr AS (
        SELECT * FROM upd UNION ALL SELECT * FROM ins
      )
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(bonus) AS BIGINT) AS n_bonus,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        CAST(SUM(CAST(bonus AS DECIMAL(18,6))) AS DOUBLE) AS sum_bonus
      FROM allr GROUP BY 1 ORDER BY 1"""))

  /** The change feed as a REAL streaming source
    * ([[graft.streaming.GraftSourceProvider]] —
    * `readStream.format("graft")`): offsets are commit versions, so
    * SPARK'S OWN CHECKPOINT owns the cursor (VERDICT r12 item 3 — the
    * q_stream_restart discipline applied to the source side). Pass 1
    * drains two commits as two capped micro-batches into a signed view
    * table and stops; while the stream is down an append and a
    * deletion-vector DELETE land; pass 2 on the SAME checkpoint must
    * deliver exactly the two new windows — the retraction arriving as
    * sign = −1 rows. The proof is the data: the view is append-only
    * signed folds, so any window replayed or skipped breaks the hash
    * against the oracle's one-copy final-state aggregate. */
  private val qStreamTxlogSource = QuerySpec(
    "q_stream_txlog_source",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "srctbl")
      val view = Graft.scratch(dir, "srcview")
      val ckpt = Graft.scratch(dir, "srcckpt")
      TxLog.destroy(root); TxLog.destroy(view)
      rmTreeQ(ckpt)
      val ev = t(s, dir, "events")
        .filter(col("event_id").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"))
      val b = TextFunctions.portableBucket(col("event_id"), 3)
      val delivered = new java.util.concurrent.atomic.AtomicInteger(0)
      def runPass(): Unit = {
        runAvailableNow(s, s.readStream.format("graft")
          .option("maxVersionsPerBatch", "1")
          .load(root)
          .writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
              val pinned = batch.localCheckpoint()
              try {
                if (!pinned.isEmpty) {
                  delivered.incrementAndGet()
                  TxLog.commit(view, Seq(TxLog.writeBatch(
                    pinned.coalesce(1), view,
                    s"w${TxLog.latestVersion(view) + 1}")))
                }
              } finally graft.core.Checkpoints.release(pinned)
              ()
          }
          .option("checkpointLocation", ckpt))
      }
      // §2.6 overlap (VERDICT r16 item 7): the two fixture batches' data
      // files are independent writes — only the COMMITS are ordered (b0 =
      // version 1, b1 = version 2), so the stream sees identical windows
      val Seq(p0, p1) = graft.core.Graft.overlapJobs(Seq(
        () => TxLog.writeBatch(ev.filter(b === 0), root, "b0"),
        () => TxLog.writeBatch(ev.filter(b === 1), root, "b1")))
      TxLog.commit(root, Seq(p0))
      TxLog.commit(root, Seq(p1))
      // b2's data files are invisible to the log until committed, so the
      // write itself runs BEHIND pass 1 (back-filling cores the driver-bound
      // micro-batch machinery leaves idle); the commit stays strictly after
      // pass 1 so the restarted stream — not pass 1 — delivers that window
      val p2 = new java.util.concurrent.FutureTask[String](
        () => TxLog.writeBatch(ev.filter(b === 2), root, "b2"))
      val p2t = new Thread(p2, "graft-b2-stage"); p2t.setDaemon(true)
      p2t.start()
      runPass()
      require(delivered.get == 2,
        s"pass 1 must deliver one window per commit (cap=1), " +
          s"got ${delivered.get}")
      // while the stream is down: an append and a merge-on-read DELETE
      TxLog.commit(root, Seq(p2.get()))
      TxLog.deleteWhereDV(s, root, "dv", col("value") < 10.0)
      runPass()
      require(delivered.get == 4,
        "the restarted stream must deliver EXACTLY the two new windows " +
          s"(append + DV delete), total ${delivered.get}")
      val folded = TxLog.read(s, view)
      require(folded.filter(col("sign") === -1).limit(1).count() == 1,
        "the DV delete must arrive as signed retractions")
      folded.groupBy(col("event_type"))
        .agg(sum(col("sign")).cast("long").as("n"),
          sumExact(col("value") * col("sign")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events
      WHERE event_id IS NOT NULL AND NOT COALESCE(value < 10.0, FALSE)
      GROUP BY 1 ORDER BY 1"""))

  /** Engine-owned INCREMENTAL TABLE REPLICATION —
    * `readStream.format("graft")` → `writeStream.format("graft")`
    * ([[graft.streaming.GraftSink]]): the whole pipeline is Spark
    * machinery — the source's offsets are the upstream table's commit
    * versions, the sink lands one atomic TxLog commit per micro-batch
    * under a batchId-deterministic name, and Spark's checkpoint +
    * that name give exactly-once with ZERO foreachBatch plumbing. The
    * gate runs the q_stream_restart discipline: replicate two commits,
    * stop, land a third upstream, restart on the SAME checkpoint —
    * REQUIREd to append exactly one replica commit — and hash-checks the
    * replica snapshot (any replayed or skipped batch breaks it). */
  private val qStreamTxlogSink = QuerySpec(
    "q_stream_txlog_sink",
    (s, dir) => {
      import graft.sources.TxLog
      val src = Graft.scratch(dir, "sinksrc")
      val dst = Graft.scratch(dir, "sinkdst")
      val ckpt = Graft.scratch(dir, "sinkckpt")
      TxLog.destroy(src); TxLog.destroy(dst)
      rmTreeQ(ckpt)
      val ev = t(s, dir, "events")
        .filter(col("event_id").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"))
      val b = TextFunctions.portableBucket(col("event_id"), 3)
      def replicate(): Unit = {
        runAvailableNow(s, s.readStream.format("graft")
          .option("maxVersionsPerBatch", "1").load(src)
          .select(col("event_id"), col("event_type"), col("value"))
          .writeStream.format("graft")
          .option("path", dst)
          .option("checkpointLocation", ckpt))
      }
      TxLog.commit(src, Seq(TxLog.writeBatch(ev.filter(b === 0), src, "b0")))
      TxLog.commit(src, Seq(TxLog.writeBatch(ev.filter(b === 1), src, "b1")))
      replicate()
      val afterFirst = TxLog.latestVersion(dst)
      require(afterFirst == 2,
        s"cap=1 must replicate one commit per upstream commit: $afterFirst")
      TxLog.commit(src, Seq(TxLog.writeBatch(ev.filter(b === 2), src, "b2")))
      replicate()
      require(TxLog.latestVersion(dst) == 3,
        "the restarted pipeline must append EXACTLY one replica commit — " +
          "Spark's checkpoint plus the batchId-deterministic sink name " +
          "already cover the first two")
      TxLog.read(s, dst)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events WHERE event_id IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** SQL MAINTENANCE statements ([[graft.plans.GraftSqlParser]] —
    * `OPTIMIZE` / `DESCRIBE HISTORY` / `VACUUM` as plain SQL text, the
    * statements standard SQL has no grammar for, injected as a
    * delegating parser): four small batches land, `OPTIMIZE … TARGET 1`
    * bin-packs them (REQUIREd: one live batch dir after), `DESCRIBE
    * HISTORY` returns one row per commit (REQUIREd: 5), a pre-expiry
    * `VACUUM` reclaims NOTHING (every version still resolvable — the
    * time-travel safety contract), and after checkpoint+expire the same
    * statement reclaims exactly the four retired dirs. Hash-checked
    * output: the post-optimize snapshot read back through the catalog
    * (content-neutrality, the compaction contract). */
  private val qSqlMaintenance = QuerySpec(
    "q_sql_maintenance",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      val root = Graft.scratch(dir, "sqlmaint")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val b = TextFunctions.portableBucket(col("event_id"), 4)
      (0 until 4).foreach { k =>
        TxLog.commit(root, Seq(TxLog.writeBatch(ev.filter(b === k),
          root, s"b$k")))
      }
      s.sql(s"DROP TABLE IF EXISTS graft.sql.maint_$tag")
      s.sql(s"CREATE TABLE graft.sql.maint_$tag USING graft LOCATION '$root'")
      val vOpt = s.sql(s"OPTIMIZE graft.sql.maint_$tag TARGET 1")
        .head().getInt(0)
      require(vOpt == 5, s"OPTIMIZE must land as ordinary version 5: $vOpt")
      require(TxLog.liveFiles(root).size == 1,
        "OPTIMIZE TARGET 1 must bin-pack to one batch dir")
      val hist = s.sql(s"DESCRIBE HISTORY graft.sql.maint_$tag").collect()
      require(hist.length == 5,
        s"DESCRIBE HISTORY must show 5 commits, got ${hist.length}")
      require(s.sql(s"VACUUM graft.sql.maint_$tag").count() == 0,
        "VACUUM must reclaim nothing while every version is resolvable")
      // the retention half of the loop is SQL too
      require(s.sql(s"CHECKPOINT graft.sql.maint_$tag").head().getInt(0) == 5,
        "CHECKPOINT must seed at the latest version")
      require(s.sql(s"EXPIRE HISTORY graft.sql.maint_$tag")
        .head().getInt(0) > 0, "EXPIRE HISTORY must retire manifests")
      val reclaimed = s.sql(s"VACUUM graft.sql.maint_$tag").count()
      require(reclaimed == 4,
        s"post-expiry VACUUM must reclaim the 4 retired dirs: $reclaimed")
      s.sql(s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM graft.sql.maint_$tag
        GROUP BY event_type ORDER BY event_type""")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events WHERE event_id IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** Constraint-enforced ingest ([[graft.sources.TxLog.commitChecked]]):
    * two clean batches land through CHECK constraints
    * (value non-negative, event_type present); a third batch with
    * planted violations is REFUSED atomically — the gate requires the
    * per-constraint violation report and that the refusal left zero
    * footprint. Hash-checked output: the final snapshot, which the
    * oracle recomputes as exactly the full clean table. */
  private val qTxlogConstraints = QuerySpec(
    "q_txlog_constraints",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_chk")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val b = TextFunctions.portableBucket(col("event_id"), 2)
      val checks = Seq(
        "value_non_negative" -> (col("value") >= 0.0),
        "event_type_present" -> col("event_type").isNotNull)
      TxLog.commitChecked(s, root, "b0", ev.filter(b === 0), checks)
      TxLog.commitChecked(s, root, "b1", ev.filter(b === 1), checks)
      val poisoned = ev.filter(b === 0)
        .withColumn("value",
          when(col("event_id") % 100 === 0, -col("value") - 1.0)
            .otherwise(col("value")))
      val refusal =
        try { TxLog.commitChecked(s, root, "b_bad", poisoned, checks); "" }
        catch { case e: IllegalArgumentException => e.getMessage }
      require(refusal.contains("value_non_negative"),
        s"the violating batch must be refused by name, got: $refusal")
      require(TxLog.latestVersion(root) == 2,
        "a refused batch must commit nothing")
      TxLog.read(s, root)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** Additive schema evolution through the log
    * ([[graft.sources.TxLog.read]] with `mergeSchema`): batch 1 lands
    * without the `category` column, batch 2 adds it; the evolved read
    * serves the UNION schema with nulls where the old file predates the
    * column — the lakehouse answer to "a new pipeline stage started
    * emitting a field" without rewriting history. The oracle recomputes
    * the per-category aggregate from the raw table, deriving NULL for
    * exactly the rows of the pre-evolution batch (the same portable
    * bucket split). */
  private val qTxlogEvolve = QuerySpec(
    "q_txlog_evolve",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_evolve")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val b = TextFunctions.portableBucket(col("event_id"), 2)
      TxLog.commit(root, Seq(TxLog.writeBatch(
        ev.filter(b === 0).select(col("event_id"), col("value")),
        root, "b_old")))
      TxLog.commit(root, Seq(TxLog.writeBatch(
        ev.filter(b === 1).select(col("event_id"), col("value"),
          col("event_type").as("category")),
        root, "b_new")))
      TxLog.read(s, root, mergeSchema = true)
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("sum_value"))
        .orderBy(asc_nulls_first("category"))
    },
    Some("""WITH ev AS (SELECT event_type, value,
          CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT)
            % 2 AS b
        FROM events WHERE event_id IS NOT NULL)
      SELECT CASE WHEN b = 1 THEN event_type END AS category,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM ev GROUP BY 1 ORDER BY 1 NULLS FIRST"""))

  /** Streaming CDC upsert into the lakehouse table — foreachBatch +
    * [[graft.sources.TxLog.merge]], the standard production ingest shape
    * (public precedent: Structured Streaming foreachBatch feeding
    * Delta's MERGE): a seeded table takes three REAL micro-batches of
    * per-user updates (event_id terciles, so batch order is event-time
    * order); each batch dedupes to its last-per-user row, then upserts
    * by user_id. Last writer wins END TO END: within a batch via the
    * row_number dedupe, across batches because a later merge replaces
    * the key. The oracle replays the whole composition as one window
    * query — final state per user = the globally-latest event — plus the
    * untouched shifted-key seeds, proving the stream of merges converges
    * to exactly the batch answer. */
  private val qStreamTxlogMerge = QuerySpec(
    "q_stream_txlog_merge",
    (s, dir) => {
      import graft.sources.TxLog
      val srcDir = java.nio.file.Paths.get(Graft.scratch(dir, "smerge_src"))
      val tbl = Graft.scratch(dir, "smerge_tbl")
      val ckpt = Graft.scratch(dir, "smerge_ckpt")
      Seq(tbl, ckpt).foreach(rmTreeQ)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      // seed the table: every user at a sentinel row, plus shifted-key
      // seeds no update ever touches (they must survive verbatim)
      val users = ev.select(col("user_id")).distinct()
      val seed = users
        .select(col("user_id"), lit("seed").as("event_type"),
          lit(0.0).as("value"))
        .unionByName(users.select((col("user_id") + 100000L).as("user_id"),
          lit("seed").as("event_type"), lit(0.0).as("value")))
      TxLog.commit(tbl, Seq(TxLog.writeBatch(seed, tbl, "seed")))
      val feed = s.readStream
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      runAvailableNow(s, feed.writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            val w = Window.partitionBy(col("user_id"))
              .orderBy(col("event_id").desc)
            val latest = batch
              .withColumn("_rn", row_number().over(w))
              .filter(col("_rn") === 1)
              .select(col("user_id"), col("event_type"), col("value"))
            TxLog.merge(s, tbl, s"m$id", latest, Seq("user_id"))
            ()
        }
        .option("checkpointLocation", ckpt))
      require(TxLog.latestVersion(tbl) == 4,
        "history must be seed + one merge commit per micro-batch = 4")
      TxLog.read(s, tbl)
        .select(col("user_id"), col("event_type"), col("value"))
        .orderBy("user_id")
    },
    Some("""WITH last AS (
        SELECT user_id, event_type, value,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC)
            AS rn
        FROM events)
      SELECT user_id, event_type, value FROM last WHERE rn = 1
      UNION ALL
      SELECT DISTINCT user_id + 100000, 'seed', 0.0 FROM events
      ORDER BY user_id"""),
    stage = Some((s, dir) => {
      val srcDir = java.nio.file.Paths.get(Graft.scratch(dir, "smerge_src"))
      stageSplitDir(srcDir) { put =>
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
        val bounds = ev.agg(min("event_id"), max("event_id")).head()
        val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
        val tercile = least(
          floor((col("event_id") - lo) * 3 / (hi - lo + 1)), lit(2L))
        (0 until 3).foreach { b =>
          // pin arrival order: the file source triggers in mod-time order
          put(ev.filter(tercile === b.toLong), s"split_$b.parquet",
            1700000000000L + b * 60000L)
        }
      }
    }))

  /** Streaming right-to-be-forgotten queue — foreachBatch +
    * [[graft.sources.TxLog.deleteWhereDV]]: three REAL micro-batches of
    * forget requests (user-id ranges, arrival-ordered files) each fold
    * into the table as ONE merge-on-read delete commit. The gate
    * REQUIRES the data-file set is BYTE-IDENTICAL after the whole queue
    * drains (every retraction lives in sidecar bindings — the
    * 100 TB compliance-queue shape: requests land in seconds, the
    * rewrite cost is deferred to the maintenance window) and the
    * history is exactly seed commits + one version per micro-batch.
    * Oracle: the final snapshot equals the table minus every requested
    * user, replayed from the raw events. */
  private val qStreamForgetDv = QuerySpec(
    "q_stream_forget_dv",
    (s, dir) => {
      import graft.sources.TxLog
      val srcDir = java.nio.file.Paths.get(Graft.scratch(dir, "sfg_src"))
      val tbl = Graft.scratch(dir, "sfg_tbl")
      val ckpt = Graft.scratch(dir, "sfg_ckpt")
      Seq(tbl, ckpt).foreach(rmTreeQ)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val b = TextFunctions.portableBucket(col("event_id"), 2)
      // the two seed batches are independent writes — overlap them
      // (guide §2.6); sequential commits keep the history identical
      val seedPaths = core.Graft.overlapJobs(Seq(
        () => TxLog.writeBatch(ev.filter(b === 0), tbl, "b0"),
        () => TxLog.writeBatch(ev.filter(b === 1), tbl, "b1")))
      seedPaths.foreach(p => TxLog.commit(tbl, Seq(p)))
      val before = TxLog.liveFiles(tbl)
      val feed = s.readStream.schema("user_id BIGINT")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      runAvailableNow(s, feed.writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            // a compliance batch is driver-small by contract (it is the
            // queue of explicit requests, not data) — collect the keys
            // and fold them as ONE masked delete
            val keys = batch.select(col("user_id")).distinct()
              .collect().map(_.getLong(0)).sorted
            if (keys.nonEmpty) {
              TxLog.deleteWhereDV(s, tbl, s"fg$id",
                col("user_id").isin(keys.toSeq: _*))
              ()
            }
        }
        .option("checkpointLocation", ckpt))
      require(TxLog.liveFiles(tbl) == before,
        "the whole forget queue must drain with ZERO data-file churn")
      require(TxLog.latestVersion(tbl) == 5,
        s"history = 2 seeds + one masked-delete commit per micro-batch, " +
          s"got v${TxLog.latestVersion(tbl)}")
      require(TxLog.read(s, tbl)
          .filter(col("user_id") % 7 === 0).isEmpty,
        "every requested user is logically gone when its batch commits")
      TxLog.read(s, tbl)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events WHERE NOT COALESCE(user_id % 7 = 0, FALSE)
      GROUP BY 1 ORDER BY 1"""),
    stage = Some((s, dir) => {
      val srcDir = java.nio.file.Paths.get(Graft.scratch(dir, "sfg_src"))
      stageSplitDir(srcDir) { put =>
        // the forget queue: users ≡ 0 (mod 7), split into three
        // arrival-ordered request files by user-id tercile
        val requests = t(s, dir, "events")
          .filter(col("user_id") % 7 === 0)
          .select(col("user_id")).distinct()
        val maxU = requests.agg(max("user_id")).head().getLong(0)
        (0 until 3).foreach { k =>
          put(requests.filter(least(floor(col("user_id") * 3 / (maxU + 1)),
              lit(2L)) === k.toLong), s"req_$k.parquet",
            1700000000000L + k * 60000L)
        }
      }
    }))

  private val qTxlogZorder = QuerySpec(
    "q_txlog_zorder",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_z")
      TxLog.destroy(root)
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      val b = TextFunctions.portableBucket(col("l_orderkey"), 4)
      // independent batch writes overlap (guide §2.6); sequential commits
      // keep the version history identical
      val paths = core.Graft.overlapJobs((0 until 4).map { k => () =>
        TxLog.writeBatch(li.filter(b === k), root, s"b$k")
      })
      paths.foreach(p => TxLog.commit(root, Seq(p)))
      val v = TxLog.optimizeZOrder(s, root, "z",
        "l_orderkey", "l_partkey", targetFiles = 4)
      require(v == 5, s"zorder optimize must commit as version 5, got $v")
      require(TxLog.liveFiles(root).size == 4)
      val full = TxLog.read(s, root)
      val prunedX = TxLog.readPruned(s, root, "l_orderkey", 0, 1000).get
      require(prunedX.inputFiles.length < full.inputFiles.length,
        "an l_orderkey range must skip at least one z-ordered file")
      val prunedY = TxLog.readPruned(s, root, "l_partkey", 0, 150).get
      require(prunedY.inputFiles.length < full.inputFiles.length,
        "an l_partkey range must skip at least one z-ordered file")
      def rangeAgg(src: org.apache.spark.sql.DataFrame, dim: String,
          cond: Column) =
        src.filter(cond).agg(
          count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(20,6)")).cast("double")
            .as("sum_qty"))
          .select(lit(dim).as("dim"), col("cnt"), col("sum_qty"))
      rangeAgg(prunedX, "x_range", col("l_orderkey") <= 1000)
        .unionByName(rangeAgg(prunedY, "y_range", col("l_partkey") <= 150))
        .orderBy("dim")
    },
    Some("""SELECT 'x_range' AS dim, CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
      FROM lineitem WHERE l_orderkey <= 1000
      UNION ALL
      SELECT 'y_range' AS dim, CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
      FROM lineitem WHERE l_partkey <= 150
      ORDER BY dim"""))

  /** OPTIMIZE … ZORDER BY over THREE dimensions
    * ([[graft.sources.TxLog.optimizeZOrderN]] /
    * [[graft.functions.ZOrder.zValueN]]): the full column-list z-order
    * verb — rank-normalized bits of (l_orderkey, l_partkey, l_suppkey)
    * interleave at stride 3, every output file carries manifest stats
    * on ALL THREE columns, and the gate REQUIRES a narrow range on
    * EACH dimension independently skips at least one file (the
    * property no single-column sort can give on three axes). Oracle
    * replays each range over the raw table. */
  private val qTxlogZorder3 = QuerySpec(
    "q_txlog_zorder3",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_z3")
      TxLog.destroy(root)
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"))
      val b = TextFunctions.portableBucket(col("l_orderkey"), 4)
      // independent batch writes overlap (guide §2.6); sequential commits
      // keep the version history identical
      val paths = core.Graft.overlapJobs((0 until 4).map { k => () =>
        TxLog.writeBatch(li.filter(b === k), root, s"b$k")
      })
      paths.foreach(p => TxLog.commit(root, Seq(p)))
      val v = TxLog.optimizeZOrderN(s, root, "z3",
        Seq("l_orderkey", "l_partkey", "l_suppkey"), targetFiles = 8)
      require(v == 5, s"3-D zorder must commit as version 5, got $v")
      require(TxLog.liveFiles(root).size == 8)
      val full = TxLog.read(s, root)
      val prunedX = TxLog.readPruned(s, root, "l_orderkey", 0, 1000).get
      require(prunedX.inputFiles.length < full.inputFiles.length,
        "an l_orderkey range must skip at least one z3-ordered file")
      val prunedY = TxLog.readPruned(s, root, "l_partkey", 0, 150).get
      require(prunedY.inputFiles.length < full.inputFiles.length,
        "an l_partkey range must skip at least one z3-ordered file")
      val prunedW = TxLog.readPruned(s, root, "l_suppkey", 0, 20).get
      require(prunedW.inputFiles.length < full.inputFiles.length,
        "an l_suppkey range must skip at least one z3-ordered file — " +
          "the THIRD dimension is what the 2-D verb cannot give")
      def rangeAgg(src: org.apache.spark.sql.DataFrame, dim: String,
          cond: Column) =
        src.filter(cond).agg(
          count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(20,6)")).cast("double")
            .as("sum_qty"))
          .select(lit(dim).as("dim"), col("cnt"), col("sum_qty"))
      rangeAgg(prunedX, "x_range", col("l_orderkey") <= 1000)
        .unionByName(rangeAgg(prunedY, "y_range", col("l_partkey") <= 150))
        .unionByName(rangeAgg(prunedW, "w_range", col("l_suppkey") <= 20))
        .orderBy("dim")
    },
    Some("""SELECT 'w_range' AS dim, CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
      FROM lineitem WHERE l_suppkey <= 20
      UNION ALL
      SELECT 'x_range' AS dim, CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
      FROM lineitem WHERE l_orderkey <= 1000
      UNION ALL
      SELECT 'y_range' AS dim, CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
      FROM lineitem WHERE l_partkey <= 150
      ORDER BY dim"""))

  /** Exactly-once incremental refresh ACROSS COMPACTION
    * ([[graft.sources.TxLog.readChanges]] feeding
    * [[AggOps.statsDeltaSigned]]) — the CDC caveat r8 documented, now a
    * working path: a view built at v1 refreshes through a window
    * (v1, v3] that contains BOTH an ingest commit (v2) and a compaction
    * commit (v3 rewrites v1's and v2's batches into one file). The
    * snapshot-diff signed feed (+1 rows of the compacted file, −1 rows
    * of the replaced v1 batch) cancels the rewritten rows key for key,
    * so the refreshed state equals the oracle's from-scratch recompute —
    * refreshing via the add-only tail here would double-count every v1
    * row. Multi-writer path: all three commits land through
    * [[graft.sources.TxLog.commitWithRetry]]. */
  private val qTxlogCompactDelta = QuerySpec(
    "q_txlog_compact_delta",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_cd")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val b = TextFunctions.portableBucket(col("event_id"), 10)
      val v1 = TxLog.commitWithRetry(root,
        Seq(TxLog.writeBatch(ev.filter(b < 6), root, "b1")))
      val state = AggOps.partialStats(TxLog.read(s, root, asOf = v1),
        Seq(col("event_type")), col("value"))
        .select(col("event_type"), col("cnt"), col("sum_dec"))
        .localCheckpoint() // view state persists BEFORE later commits land
      TxLog.commitWithRetry(root,
        Seq(TxLog.writeBatch(ev.filter(b >= 6), root, "b2")))
      // compaction inside the refresh window: rewrite EVERYTHING into one
      // file and retire both ingest batches
      val compacted = TxLog.read(s, root).coalesce(1)
      val v3 = TxLog.commitWithRetry(root,
        Seq(TxLog.writeBatch(compacted, root, "b_all_c")),
        remove = Seq(s"$root/data/b1", s"$root/data/b2"))
      val changes = TxLog.readChanges(s, root, v1, v3).get
      AggOps.statsDeltaSigned(state, changes, Seq(col("event_type")),
          col("value"), col("sign"))
        .select(col("event_type"), col("cnt"),
          col("sum_dec").cast("double").as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(value) AS BIGINT) AS cnt,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events WHERE event_id IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** Manifest-level data skipping ([[graft.sources.TxLog.commitWithStats]]
    * / [[graft.sources.TxLog.readPruned]]): four value-banded batches
    * commit with per-file column stats; a narrow range read consults the
    * MANIFEST to skip disjoint files before touching any parquet footer
    * — file pruning at the table-format layer, composing with (not
    * replacing) the caller's row filter. Oracle replays the range over
    * the raw events. */
  private val qTxlogPruned = QuerySpec(
    "q_txlog_pruned",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_pr")
      TxLog.destroy(root)
      val ev = t(s, dir, "events").select(col("event_type"), col("value"))
        .filter(col("value").isNotNull)
      val bands = Seq((0.0, 25.0), (25.0, 50.0), (50.0, 75.0), (75.0, 1e9))
      bands.zipWithIndex.foreach { case ((lo, hi), i) =>
        val b = ev.filter(col("value") >= lo && col("value") < hi)
        val p = TxLog.writeBatch(b, root, s"band$i")
        TxLog.commitWithStats(root, Seq((p, TxLog.columnStats(b, "value"))))
      }
      val pruned = TxLog.readPruned(s, root, "value", 30.0, 45.0).get
      pruned.filter(col("value") >= 30.0 && col("value") <= 45.0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          AggOps.sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events WHERE value >= 30.0 AND value <= 45.0
      GROUP BY 1 ORDER BY 1"""))

  /** The PARQUET CHECKPOINT TWIN (Delta's checkpoint.parquet analogue,
    * VERDICT r15 item 3): [[graft.sources.TxLog.checkpoint]] writes the
    * resolved (path, stats, dv) entry state as a columnar twin beside
    * the authoritative text checkpoint, and the pruned read verbs then
    * resolve SURVIVORS through a DISTRIBUTED filter over that entry
    * table — at the 10⁷-file regime the driver collects the files that
    * match, never the live set. The gate: band-committed events table →
    * checkpoint (REQUIRE the twin path engages and its distributed
    * state equals the driver replay exactly) → post-checkpoint delta
    * (a fourth band + a merge-on-read DV delete inside the filter
    * window, both riding ON TOP of the twin) → readPruned through the
    * twin (REQUIRE exactly 1 surviving band dir) → hash the masked
    * filtered aggregate vs the oracle. */
  private val qTxlogCheckpointParquet = QuerySpec(
    "q_txlog_checkpoint_parquet",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "txlog_cpq")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .filter(col("value").isNotNull && col("event_id").isNotNull)
      val bands = Seq((0.0, 25.0), (25.0, 50.0), (50.0, 75.0))
      bands.zipWithIndex.foreach { case ((lo, hi), i) =>
        val b = ev.filter(col("value") >= lo && col("value") < hi).coalesce(1)
        val p = TxLog.writeBatch(b, root, s"band$i")
        TxLog.commitWithStats(root, Seq((p, TxLog.columnStats(b, "value"))))
      }
      // the twin defaults on only at scale (>= twinMinEntries live
      // files); force it for this gate's small fixture, restore after
      val hc = s.sparkContext.hadoopConfiguration
      hc.setInt("graft.txlog.twinMinEntries", 0)
      try TxLog.checkpoint(root)
      finally hc.unset("graft.txlog.twinMinEntries")
      val twin = TxLog.scanEntriesCollected(s, root)
      require(twin.isDefined,
        "a checkpointed table must expose the parquet-twin path")
      require(twin.get.map(_._1).toSet == TxLog.liveFiles(root).toSet,
        "distributed twin state must equal the driver replay")
      val b3 = ev.filter(col("value") >= 75.0).coalesce(1)
      val p3 = TxLog.writeBatch(b3, root, "band3")
      TxLog.commitWithStats(root, Seq((p3, TxLog.columnStats(b3, "value"))))
      TxLog.deleteWhereDV(s, root, "cpq",
        col("value") >= 30.0 && col("value") <= 45.0 &&
          pmod(col("event_id"), lit(2)) === 0)
      val pruned = TxLog.readPruned(s, root, "value", 30.0, 45.0).get
      require(pruned.inputFiles
        .map(f => new java.io.File(f).getParentFile.getName)
        .distinct.length == 1,
        "the twin-backed pruned read must collect exactly 1 band dir")
      pruned.filter(col("value") >= 30.0 && col("value") <= 45.0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          AggOps.sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events WHERE value >= 30.0 AND value <= 45.0
        AND event_id IS NOT NULL AND event_id % 2 = 1
      GROUP BY 1 ORDER BY 1"""))

  /** Manifest-stats FILE SKIPPING at scan planning
    * ([[graft.sources.TxLog]] read paths over the stats-aware
    * GraftStatsFileIndex — Delta's TahoeFileIndex pattern): unlike
    * q_txlog_pruned, NO explicit readPruned call — the gate filters a
    * plain `TxLog.read` snapshot and a plain SQL `WHERE`, and the scan
    * itself must plan ONE of the four range-banded files (REQUIREd by
    * interrogating the physical scan's FileIndex with its own pushed
    * filters — zero jobs). This is the 100 TB planning story: any
    * predicate a user writes skips stats-disjoint files before a single
    * parquet footer is opened, on every read path. Result hash-checked
    * against the oracle's full-table filter. */
  private val qTxlogScanPrune = QuerySpec(
    "q_txlog_scan_prune",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      val root = Graft.scratch(dir, "txlog_sp")
      TxLog.destroy(root)
      val ev = t(s, dir, "events").select(col("event_type"), col("value"))
        .filter(col("value").isNotNull)
      val bands = Seq((0.0, 25.0), (25.0, 50.0), (50.0, 75.0), (75.0, 1e9))
      bands.zipWithIndex.foreach { case ((lo, hi), i) =>
        val b = ev.filter(col("value") >= lo && col("value") < hi).coalesce(1)
        val p = TxLog.writeBatch(b, root, s"band$i")
        TxLog.commitWithStats(root, Seq((p, TxLog.columnStats(b, "value"))))
      }
      val api = TxLog.read(s, root)
        .filter(col("value") >= 55.0 && col("value") <= 70.0)
      require(Graft.plannedFiles(api) == 1,
        s"API filter must plan exactly the one in-range band file, " +
          s"planned ${Graft.plannedFiles(api)} of 4")
      s.sql(s"DROP TABLE IF EXISTS graft.sql.evsp_$tag")
      s.sql(s"CREATE TABLE graft.sql.evsp_$tag USING graft LOCATION '$root'")
      val viaSql = s.sql(s"SELECT event_type, value FROM graft.sql.evsp_$tag " +
        "WHERE value >= 55.0 AND value <= 70.0")
      require(Graft.plannedFiles(viaSql) == 1,
        s"SQL filter must plan exactly the one in-range band file, " +
          s"planned ${Graft.plannedFiles(viaSql)} of 4")
      viaSql.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          AggOps.sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events WHERE value >= 55.0 AND value <= 70.0
      GROUP BY 1 ORDER BY 1"""))

  /** PARTITIONED catalog tables end-to-end in SQL
    * ([[graft.sources.GraftCatalog]] PARTITIONED BY →
    * [[graft.sources.TxLog.commitPartitioned]] value-grain ingest):
    * CREATE TABLE … PARTITIONED BY (bucket), INSERT INTO … SELECT, and
    * the scan-planning FileIndex prunes a partition-valued filter to
    * exactly ONE of the four value leaves (REQUIREd with zero jobs) —
    * partition pruning with no directory listing, straight off the
    * manifest's per-value stats. The filtered aggregate is
    * hash-checked; a second INSERT proves leaves accumulate per commit
    * and still prune. */
  private val qSqlPartitioned = QuerySpec(
    "q_sql_partitioned",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      val root = Graft.scratch(dir, "sqlpart")
      TxLog.destroy(root)
      t(s, dir, "events").select(col("event_id"), col("event_type"),
          col("value"))
        .filter(col("event_id").isNotNull)
        .createOrReplaceTempView(s"ev_src_$tag")
      s.sql(s"DROP TABLE IF EXISTS graft.sql.evpart_$tag")
      s.sql(s"CREATE TABLE graft.sql.evpart_$tag " +
        "(event_id BIGINT, event_type STRING, value DOUBLE, bucket INT) " +
        "USING graft PARTITIONED BY (bucket)")
      s.sql(s"INSERT INTO graft.sql.evpart_$tag " +
        "SELECT event_id, event_type, value, " +
        s"CAST(pmod(event_id, 4) AS INT) FROM ev_src_$tag " +
        "WHERE event_id % 2 = 0")
      s.sql(s"INSERT INTO graft.sql.evpart_$tag " +
        "SELECT event_id, event_type, value, " +
        s"CAST(pmod(event_id, 4) AS INT) FROM ev_src_$tag " +
        "WHERE event_id % 2 = 1")
      val filtered = s.sql(
        s"SELECT event_type, value FROM graft.sql.evpart_$tag " +
          "WHERE bucket = 2")
      // commit 1 wrote buckets {0,2} (even ids), commit 2 {1,3} (odd):
      // 4 one-file leaves total, and bucket=2 plans exactly one
      require(Graft.plannedFiles(filtered) == 1,
        s"bucket=2 must plan 1 of the 4 value leaves, " +
          s"planned ${Graft.plannedFiles(filtered)}")
      filtered.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          AggOps.sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events WHERE event_id IS NOT NULL AND event_id % 4 = 2
      GROUP BY 1 ORDER BY 1"""))

  /** COMPOSITE `PARTITIONED BY (a, b)` catalog table
    * ([[graft.sources.TxLog.commitPartitionedCols]]): nested value
    * leaves (`__pv=a/__pv1=b`), one manifest entry per value
    * COMBINATION with per-level range+bloom stats. REQUIREd: a
    * two-predicate filter plans exactly ONE of the six tuple leaves,
    * and a filter on the SECOND column alone prunes too — per-level
    * stats, not a path-prefix convention (reference capability analog:
    * MultipleOutputs' multi-level dynamic paths,
    * MR-CORE/mapreduce/lib/output/MultipleOutputs.java:179). The
    * filtered aggregate is hash-checked. */
  private val qSqlPartitioned2 = QuerySpec(
    "q_sql_partitioned2",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      s.sql(s"DROP TABLE IF EXISTS graft.sql.evpart2_$tag")
      t(s, dir, "events").select(col("event_id"), col("event_type"),
          col("value"))
        .filter(col("event_id").isNotNull)
        .createOrReplaceTempView(s"ev2_src_$tag")
      s.sql(s"CREATE TABLE graft.sql.evpart2_$tag " +
        "(event_id BIGINT, event_type STRING, value DOUBLE, " +
        "b1 INT, b2 INT) USING graft PARTITIONED BY (b1, b2)")
      // even ids land b1=0, odd ids b1=1 — two inserts, three b2 values
      // each: 6 one-file tuple leaves total
      Seq(0, 1).foreach { parity =>
        s.sql(s"INSERT INTO graft.sql.evpart2_$tag " +
          "SELECT event_id, event_type, value, " +
          "CAST(pmod(event_id, 2) AS INT), CAST(pmod(event_id, 3) AS INT) " +
          s"FROM ev2_src_$tag WHERE event_id % 2 = $parity")
      }
      val filtered = s.sql(
        s"SELECT event_type, value FROM graft.sql.evpart2_$tag " +
          "WHERE b1 = 1 AND b2 = 2")
      require(Graft.plannedFiles(filtered) == 1,
        s"b1=1 AND b2=2 must plan 1 of the 6 tuple leaves, " +
          s"planned ${Graft.plannedFiles(filtered)}")
      val second = s.sql(
        s"SELECT event_type FROM graft.sql.evpart2_$tag WHERE b2 = 0")
      require(Graft.plannedFiles(second) == 2,
        s"b2=0 alone must plan its 2 leaves (per-level stats), " +
          s"planned ${Graft.plannedFiles(second)}")
      filtered.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          AggOps.sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events WHERE event_id IS NOT NULL
        AND event_id % 2 = 1 AND event_id % 3 = 2
      GROUP BY 1 ORDER BY 1"""))

  /** ADD COLUMN on a PARTITIONED catalog table — the additive verb is
    * MAPPING-FREE ([[graft.sources.TxLog.addColumn]] commits one
    * `coltype` line, physical = logical name), so it composes with the
    * value-grain leaves the partitioned ingest writes under declared
    * names. REQUIREd: the add touches ZERO data files, a later INSERT
    * fills the column while pre-add leaves null-fill, partition pruning
    * still plans exactly the value's leaves, and the mapping-creating
    * verbs (RENAME) stay refused. Hash: per-type counts + the filled
    * column's sum with pre-add rows contributing NULL. */
  private val qSqlPartAddColumn = QuerySpec(
    "q_sql_part_add_column",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      s.sql(s"DROP TABLE IF EXISTS graft.sql.evpac_$tag")
      t(s, dir, "events").select(col("event_id"), col("event_type"),
          col("value"))
        .filter(col("event_id").isNotNull)
        .createOrReplaceTempView(s"evpac_src_$tag")
      s.sql(s"CREATE TABLE graft.sql.evpac_$tag " +
        "(event_id BIGINT, event_type STRING, bucket INT) " +
        "USING graft PARTITIONED BY (bucket)")
      s.sql(s"INSERT INTO graft.sql.evpac_$tag " +
        "SELECT event_id, event_type, CAST(pmod(event_id, 4) AS INT) " +
        s"FROM evpac_src_$tag WHERE event_id % 2 = 0")
      val loc = s.sql(s"DESCRIBE TABLE EXTENDED graft.sql.evpac_$tag")
        .filter(col("col_name") === "Location").select("data_type")
        .collect().head.getString(0)
      val filesPre = TxLog.liveFiles(loc)
      s.sql(s"ALTER TABLE graft.sql.evpac_$tag ADD COLUMN score DOUBLE")
      require(TxLog.liveFiles(loc) == filesPre,
        "ADD COLUMN on a partitioned table must touch zero data files")
      s.sql(s"INSERT INTO graft.sql.evpac_$tag " +
        "SELECT event_id, event_type, CAST(pmod(event_id, 4) AS INT), " +
        s"value FROM evpac_src_$tag WHERE event_id % 2 = 1")
      // even ids fill buckets {0,2}, odd ids {1,3}: 6 leaves live, and
      // a bucket filter still plans only that value's single leaf
      val pruned = s.sql(
        s"SELECT event_id FROM graft.sql.evpac_$tag WHERE bucket = 3")
      require(Graft.plannedFiles(pruned) == 1,
        s"bucket=3 must plan 1 of the 6 leaves after ADD COLUMN, " +
          s"planned ${Graft.plannedFiles(pruned)}")
      val renamed =
        try { s.sql(s"ALTER TABLE graft.sql.evpac_$tag " +
          "RENAME COLUMN event_id TO eid"); true }
        catch { case _: Exception => false }
      require(!renamed,
        "RENAME COLUMN must stay refused on a partitioned table")
      s.sql(s"SELECT event_type, event_id, score FROM graft.sql.evpac_$tag")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(col("score")).as("n_scored"),
          AggOps.sumExact(coalesce(col("score"), lit(0.0))).as("sum_score"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(CASE WHEN event_id % 2 = 1 THEN value END) AS BIGINT)
          AS n_scored,
        CAST(SUM(CAST(CASE WHEN event_id % 2 = 1 THEN value ELSE 0.0 END
          AS DECIMAL(18,6))) AS DOUBLE) AS sum_score
      FROM events WHERE event_id IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** Time-bucketed partitioning — `PARTITIONED BY (days(ts))` (public
    * precedent: Iceberg's partition transforms): the ingest clusters
    * rows into one leaf per UTC day, each leaf's manifest blob carries
    * TRUE min/max of the source `ts` (one columnar read per leaf), so a
    * RAW ts-range predicate — the query never names the transform —
    * prunes to exactly its day's leaf at scan planning (REQUIREd
    * 1-of-N). Hash: per-day counts and value sums over the whole
    * table, day = epoch-micros div 86400e6 on both sides. */
  private val qSqlPartitionedDays = QuerySpec(
    "q_sql_partitioned_days",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      s.sql(s"DROP TABLE IF EXISTS graft.sql.evdays_$tag")
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"), col("ts"))
        .filter(col("event_id").isNotNull && col("ts").isNotNull)
        .createOrReplaceTempView(s"evdays_src_$tag")
      s.sql(s"CREATE TABLE graft.sql.evdays_$tag " +
        "(event_id BIGINT, event_type STRING, value DOUBLE, ts TIMESTAMP) " +
        "USING graft PARTITIONED BY (days(ts))")
      s.sql(s"INSERT INTO graft.sql.evdays_$tag " +
        s"SELECT event_id, event_type, value, ts FROM evdays_src_$tag")
      val total = Graft.plannedFiles(s.sql(s"SELECT * FROM graft.sql.evdays_$tag"))
      require(total >= 2, s"the events span must yield multiple day " +
        s"leaves, got $total")
      // the first day's window, derived from the data itself
      val d0 = s.sql(s"SELECT min(unix_micros(ts)) div 86400000000 " +
        s"FROM evdays_src_$tag").collect().head.getLong(0)
      val (lo, hi) = (d0 * 86400000000L, (d0 + 1) * 86400000000L)
      val oneDay = s.sql(
        s"SELECT event_id FROM graft.sql.evdays_$tag " +
          s"WHERE ts >= timestamp_micros(${lo}L) " +
          s"AND ts < timestamp_micros(${hi}L)")
      require(Graft.plannedFiles(oneDay) == 1,
        s"a one-day raw-ts window must plan exactly 1 of $total day " +
          s"leaves, planned ${Graft.plannedFiles(oneDay)}")
      s.sql(s"SELECT unix_micros(ts) div 86400000000 AS day_num, value " +
          s"FROM graft.sql.evdays_$tag")
        .groupBy(col("day_num"))
        .agg(count(lit(1)).as("n"),
          AggOps.sumExact(coalesce(col("value"), lit(0.0))).as("sum_value"))
        .orderBy("day_num")
    },
    Some("""SELECT epoch_us(ts) // 86400000000 AS day_num,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,6))) AS DOUBLE)
          AS sum_value
      FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** `PARTITIONED BY (months(ts))` — the coarser time-bucket transform
    * (VERDICT r14 item 3: only days(ts) was hash-gated; months/years/
    * hours shared the code path but not the oracle). The events span is
    * a single month, so the gate widens it DETERMINISTICALLY first:
    * ts2 = ts + (event_id % 5)·31 days, exact epoch-micros arithmetic
    * replayable by the oracle. REQUIREd like the days gate: the ingest
    * yields multiple month leaves, and a raw one-month ts window — the
    * query never names the transform — plans exactly 1 leaf via the
    * per-leaf TRUE min/max stats on the source column. Hash: per-month
    * counts and value sums, month = UTC yyyy-MM of ts2 on both sides. */
  private val qSqlPartitionedMonths = QuerySpec(
    "q_sql_partitioned_months",
    (s, dir) => {
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      s.sql(s"DROP TABLE IF EXISTS graft.sql.evmon_$tag")
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          timestamp_micros(unix_micros(col("ts")) +
            pmod(col("event_id"), lit(5)) * lit(2678400000000L)).as("ts"))
        .filter(col("event_id").isNotNull && col("ts").isNotNull)
        .createOrReplaceTempView(s"evmon_src_$tag")
      s.sql(s"CREATE TABLE graft.sql.evmon_$tag " +
        "(event_id BIGINT, event_type STRING, value DOUBLE, ts TIMESTAMP) " +
        "USING graft PARTITIONED BY (months(ts))")
      s.sql(s"INSERT INTO graft.sql.evmon_$tag " +
        s"SELECT event_id, event_type, value, ts FROM evmon_src_$tag")
      val total = Graft.plannedFiles(s.sql(s"SELECT * FROM graft.sql.evmon_$tag"))
      require(total >= 3, s"the widened events span must yield multiple " +
        s"month leaves, got $total")
      // the first month's window, derived from the data itself (UTC)
      val minUs = s.sql(s"SELECT min(unix_micros(ts)) FROM evmon_src_$tag")
        .collect().head.getLong(0)
      val m0 = java.time.Instant.ofEpochSecond(minUs / 1000000)
        .atZone(java.time.ZoneOffset.UTC)
        .withDayOfMonth(1).truncatedTo(java.time.temporal.ChronoUnit.DAYS)
      val lo = m0.toInstant.getEpochSecond * 1000000L
      val hi = m0.plusMonths(1).toInstant.getEpochSecond * 1000000L
      val oneMonth = s.sql(
        s"SELECT event_id FROM graft.sql.evmon_$tag " +
          s"WHERE ts >= timestamp_micros(${lo}L) " +
          s"AND ts < timestamp_micros(${hi}L)")
      require(Graft.plannedFiles(oneMonth) == 1,
        s"a one-month raw-ts window must plan exactly 1 of $total month " +
          s"leaves, planned ${Graft.plannedFiles(oneMonth)}")
      s.sql(s"SELECT date_format(ts, 'yyyy-MM') AS month, value " +
          s"FROM graft.sql.evmon_$tag")
        .groupBy(col("month"))
        .agg(count(lit(1)).as("n"),
          AggOps.sumExact(coalesce(col("value"), lit(0.0))).as("sum_value"))
        .orderBy("month")
    },
    Some("""SELECT strftime(make_timestamp(epoch_us(ts)
          + (event_id % 5) * 2678400000000), '%Y-%m') AS month,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,6))) AS DOUBLE)
          AS sum_value
      FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** `PARTITIONED BY (years(ts))` — the coarsest time-bucket transform
    * (VERDICT r15 missing item 3: years/hours shared the days/months
    * code path but not the oracle). The events span is one month, so
    * the gate widens it to ~4 years DETERMINISTICALLY first:
    * ts2 = ts + (event_id % 4)·366 days, exact epoch-micros arithmetic
    * replayable by the oracle. REQUIREd like the months gate: multiple
    * year leaves, and a raw one-year ts window — the query never names
    * the transform — plans exactly 1 leaf via the per-leaf TRUE min/max
    * stats on the source column. Hash: per-year counts and value sums,
    * year = UTC yyyy of ts2 on both sides. */
  private val qSqlPartitionedYears = QuerySpec(
    "q_sql_partitioned_years",
    (s, dir) => {
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      s.sql(s"DROP TABLE IF EXISTS graft.sql.evyr_$tag")
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          timestamp_micros(unix_micros(col("ts")) +
            pmod(col("event_id"), lit(4)) * lit(31622400000000L)).as("ts"))
        .filter(col("event_id").isNotNull && col("ts").isNotNull)
        .createOrReplaceTempView(s"evyr_src_$tag")
      s.sql(s"CREATE TABLE graft.sql.evyr_$tag " +
        "(event_id BIGINT, event_type STRING, value DOUBLE, ts TIMESTAMP) " +
        "USING graft PARTITIONED BY (years(ts))")
      s.sql(s"INSERT INTO graft.sql.evyr_$tag " +
        s"SELECT event_id, event_type, value, ts FROM evyr_src_$tag")
      val total = Graft.plannedFiles(s.sql(s"SELECT * FROM graft.sql.evyr_$tag"))
      require(total >= 3, s"the widened events span must yield multiple " +
        s"year leaves, got $total")
      // the first year's window, derived from the data itself (UTC)
      val minUs = s.sql(s"SELECT min(unix_micros(ts)) FROM evyr_src_$tag")
        .collect().head.getLong(0)
      val y0 = java.time.Instant.ofEpochSecond(minUs / 1000000)
        .atZone(java.time.ZoneOffset.UTC).withDayOfYear(1)
        .truncatedTo(java.time.temporal.ChronoUnit.DAYS)
      val lo = y0.toInstant.getEpochSecond * 1000000L
      val hi = y0.plusYears(1).toInstant.getEpochSecond * 1000000L
      val oneYear = s.sql(
        s"SELECT event_id FROM graft.sql.evyr_$tag " +
          s"WHERE ts >= timestamp_micros(${lo}L) " +
          s"AND ts < timestamp_micros(${hi}L)")
      require(Graft.plannedFiles(oneYear) == 1,
        s"a one-year raw-ts window must plan exactly 1 of $total year " +
          s"leaves, planned ${Graft.plannedFiles(oneYear)}")
      s.sql(s"SELECT date_format(ts, 'yyyy') AS year, value " +
          s"FROM graft.sql.evyr_$tag")
        .groupBy(col("year"))
        .agg(count(lit(1)).as("n"),
          AggOps.sumExact(coalesce(col("value"), lit(0.0))).as("sum_value"))
        .orderBy("year")
    },
    Some("""SELECT strftime(make_timestamp(epoch_us(ts)
          + (event_id % 4) * 31622400000000), '%Y') AS year,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,6))) AS DOUBLE)
          AS sum_value
      FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** `PARTITIONED BY (hours(ts))` — the finest time-bucket transform
    * (VERDICT r15 missing item 3's other half). Raw events span a
    * month — ~720 hour leaves, a pathological grain for a gate — so
    * the construction REBASES deterministically onto six hours of one
    * UTC day: ts2 = 2024-01-01T00Z + (event_id % 6)·1h + (ts's
    * sub-hour offset), exact epoch-micros arithmetic the oracle
    * replays. REQUIREd: multiple hour leaves, and a raw one-hour ts
    * window plans exactly 1 leaf via the per-leaf TRUE min/max stats.
    * Hash: per-hour counts and value sums, hour = epoch-micros div
    * 3600e6 on both sides (timezone-free, the days-gate shape). */
  private val qSqlPartitionedHours = QuerySpec(
    "q_sql_partitioned_hours",
    (s, dir) => {
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      s.sql(s"DROP TABLE IF EXISTS graft.sql.evhr_$tag")
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          timestamp_micros(lit(1704067200000000L) +
            pmod(col("event_id"), lit(6)) * lit(3600000000L) +
            pmod(unix_micros(col("ts")), lit(3600000000L))).as("ts"))
        .filter(col("event_id").isNotNull && col("ts").isNotNull)
        .createOrReplaceTempView(s"evhr_src_$tag")
      s.sql(s"CREATE TABLE graft.sql.evhr_$tag " +
        "(event_id BIGINT, event_type STRING, value DOUBLE, ts TIMESTAMP) " +
        "USING graft PARTITIONED BY (hours(ts))")
      s.sql(s"INSERT INTO graft.sql.evhr_$tag " +
        s"SELECT event_id, event_type, value, ts FROM evhr_src_$tag")
      val total = Graft.plannedFiles(s.sql(s"SELECT * FROM graft.sql.evhr_$tag"))
      require(total >= 3, s"the rebased events span must yield multiple " +
        s"hour leaves, got $total")
      // the first hour's window, derived from the data itself
      val minUs = s.sql(s"SELECT min(unix_micros(ts)) FROM evhr_src_$tag")
        .collect().head.getLong(0)
      val lo = (minUs / 3600000000L) * 3600000000L
      val hi = lo + 3600000000L
      val oneHour = s.sql(
        s"SELECT event_id FROM graft.sql.evhr_$tag " +
          s"WHERE ts >= timestamp_micros(${lo}L) " +
          s"AND ts < timestamp_micros(${hi}L)")
      require(Graft.plannedFiles(oneHour) == 1,
        s"a one-hour raw-ts window must plan exactly 1 of $total hour " +
          s"leaves, planned ${Graft.plannedFiles(oneHour)}")
      s.sql(s"SELECT unix_micros(ts) div 3600000000 AS hour_num, value " +
          s"FROM graft.sql.evhr_$tag")
        .groupBy(col("hour_num"))
        .agg(count(lit(1)).as("n"),
          AggOps.sumExact(coalesce(col("value"), lit(0.0))).as("sum_value"))
        .orderBy("hour_num")
    },
    Some("""SELECT (1704067200000000 + (event_id % 6) * 3600000000
          + epoch_us(ts) % 3600000000) // 3600000000 AS hour_num,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,6))) AS DOUBLE)
          AS sum_value
      FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** `PARTITIONED BY (bucket(8, c_name))` — the HASH-BUCKET partition
    * transform (Iceberg's bucket transform; r15): the ingest clusters
    * rows into one leaf per portable-bucket value, each leaf's manifest
    * blob carries an EXACT `#bk#` membership segment (the literal's
    * bucket is recomputed at plan time — O(1) per leaf, never
    * saturating like a data bloom would at high per-leaf cardinality),
    * so a point predicate on the 1500-distinct-value key — the query
    * never names the transform — prunes to exactly its bucket's leaf.
    * REQUIREd: 8 leaves, 1-of-8 for the point query. Hash: per-bucket
    * counts and balance sums, the bucket arithmetic replayed by the
    * oracle through the md5 twin. */
  private val qSqlPartitionedBucket = QuerySpec(
    "q_sql_partitioned_bucket",
    (s, dir) => {
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      s.sql(s"DROP TABLE IF EXISTS graft.sql.custbk_$tag")
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .filter(col("c_name").isNotNull)
        .createOrReplaceTempView(s"custbk_src_$tag")
      s.sql(s"CREATE TABLE graft.sql.custbk_$tag " +
        "(c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE) " +
        "USING graft PARTITIONED BY (bucket(8, c_name))")
      s.sql(s"INSERT INTO graft.sql.custbk_$tag " +
        s"SELECT c_custkey, c_name, c_acctbal FROM custbk_src_$tag")
      val total = Graft.plannedFiles(s.sql(s"SELECT * FROM graft.sql.custbk_$tag"))
      require(total == 8, s"bucket(8, c_name) over 1500 distinct names " +
        s"must land 8 leaves, got $total")
      val probe = s.sql(s"SELECT min(c_name) FROM custbk_src_$tag")
        .collect().head.getString(0)
      val one = s.sql(s"SELECT c_custkey FROM graft.sql.custbk_$tag " +
        s"WHERE c_name = '$probe'")
      require(Graft.plannedFiles(one) == 1,
        s"a c_name point predicate must plan exactly 1 of 8 bucket " +
          s"leaves (#bk# exact membership), planned ${Graft.plannedFiles(one)}")
      s.sql(s"SELECT pmod(CAST(conv(substr(md5(c_name), 1, 8), 16, 10) " +
          s"AS BIGINT), 8) AS bucket, c_acctbal " +
          s"FROM graft.sql.custbk_$tag")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          AggOps.sumExact(coalesce(col("c_acctbal"), lit(0.0)))
            .as("sum_bal"))
        .orderBy("bucket")
    },
    Some("""SELECT CAST('0x' || substr(md5(c_name), 1, 8) AS BIGINT) % 8
        AS bucket,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CAST(COALESCE(c_acctbal, 0.0) AS DECIMAL(18,6)))
        AS DOUBLE) AS sum_bal
      FROM customer WHERE c_name IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** `PARTITIONED BY (truncate(1, lang))` — the STRING-PREFIX partition
    * transform (Iceberg's truncate on strings; r15): one leaf per
    * 1-char prefix, so `en` and `es` SHARE the `e` leaf (the grouping
    * property), and each leaf's manifest blob carries an EXACT
    * `#tp#` prefix-membership segment — a point predicate on the raw
    * column prunes to its prefix's leaf at plan time, O(1) per leaf at
    * any cardinality. REQUIREd: 4 leaves (d/e/f/z over the 5 langs),
    * 1-of-4 for both a sole-occupant (`fr`) and a shared (`en`) point
    * predicate. Hash: per-prefix counts and char sums, the prefix
    * arithmetic replayed by the oracle. */
  private val qSqlPartitionedTruncate = QuerySpec(
    "q_sql_partitioned_truncate",
    (s, dir) => {
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      s.sql(s"DROP TABLE IF EXISTS graft.sql.doctr_$tag")
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .filter(col("lang").isNotNull)
        .createOrReplaceTempView(s"doctr_src_$tag")
      s.sql(s"CREATE TABLE graft.sql.doctr_$tag " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT) " +
        "USING graft PARTITIONED BY (truncate(1, lang))")
      s.sql(s"INSERT INTO graft.sql.doctr_$tag " +
        s"SELECT doc_id, lang, n_chars FROM doctr_src_$tag")
      val total = Graft.plannedFiles(s.sql(s"SELECT * FROM graft.sql.doctr_$tag"))
      require(total == 4, s"truncate(1, lang) over {de,en,es,fr,zh} " +
        s"must land 4 prefix leaves, got $total")
      Seq("fr", "en").foreach { l =>
        val one = s.sql(s"SELECT doc_id FROM graft.sql.doctr_$tag " +
          s"WHERE lang = '$l'")
        require(Graft.plannedFiles(one) == 1,
          s"lang = '$l' must plan exactly 1 of 4 prefix leaves " +
            s"(#tp# exact membership), planned ${Graft.plannedFiles(one)}")
      }
      s.sql(s"SELECT substr(lang, 1, 1) AS pfx, n_chars " +
          s"FROM graft.sql.doctr_$tag")
        .groupBy(col("pfx"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("pfx")
    },
    Some("""SELECT substr(lang, 1, 1) AS pfx,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents WHERE lang IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** PARTITION-SPEC EVOLUTION (`ALTER TABLE … SET PARTITIONED BY`,
    * Iceberg's spec evolution; r15): a table ingested under
    * `PARTITIONED BY (event_type)` evolves to `days(ts)` in ONE
    * metadata-only commit (REQUIREd: zero data files touched), the
    * second half of the data lands as day leaves, and the mixed-grain
    * era prunes each epoch by its own self-describing segments
    * (REQUIREd exactly: a one-day window plans K_old + 1 — every other
    * NEW day leaf pruned, pre-evolution leaves conservative-read; a
    * type point predicate plans 1 + D_new symmetrical). OPTIMIZE then
    * migrates lazily — pre-evolution leaves are residue under the
    * current spec (their `#sp#` tag says which spec wrote them) and
    * re-cluster into pure day grain (REQUIREd: one leaf per day
    * overall, then the window plans exactly 1). Hash: per-day counts
    * and value sums over the final table. */
  private val qSqlPartitionEvolution = QuerySpec(
    "q_sql_partition_evolution",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      s.sql(s"DROP TABLE IF EXISTS graft.sql.evolve_$tag")
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"), col("ts"))
        .filter(col("event_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
        .createOrReplaceTempView(s"evolve_src_$tag")
      val midUs = 1705363200000000L // 2024-01-16 00:00:00 UTC
      s.sql(s"CREATE TABLE graft.sql.evolve_$tag " +
        "(event_id BIGINT, event_type STRING, value DOUBLE, " +
        "ts TIMESTAMP) USING graft PARTITIONED BY (event_type)")
      s.sql(s"INSERT INTO graft.sql.evolve_$tag " +
        s"SELECT event_id, event_type, value, ts FROM evolve_src_$tag " +
        s"WHERE unix_micros(ts) < ${midUs}L")
      val loc = s.sql(s"DESCRIBE TABLE EXTENDED graft.sql.evolve_$tag")
        .filter(col("col_name") === "Location").select("data_type")
        .collect().head.getString(0)
      val kOld = TxLog.liveFiles(loc).size
      val filesPre = TxLog.liveFiles(loc)
      s.sql(s"ALTER TABLE graft.sql.evolve_$tag " +
        "SET PARTITIONED BY (days(ts))")
      require(TxLog.liveFiles(loc) == filesPre,
        "spec evolution must touch zero data files")
      s.sql(s"INSERT INTO graft.sql.evolve_$tag " +
        s"SELECT event_id, event_type, value, ts FROM evolve_src_$tag " +
        s"WHERE unix_micros(ts) >= ${midUs}L")
      val dNew = TxLog.liveFiles(loc).size - kOld
      require(kOld >= 2 && dNew >= 2,
        s"need a real mixed-grain era, got $kOld old + $dNew new leaves")
      val (lo, hi) = (midUs, midUs + 86400000000L) // the first new day
      val window = s"ts >= timestamp_micros(${lo}L) AND " +
        s"ts < timestamp_micros(${hi}L)"
      val oneDay = s.sql(
        s"SELECT event_id FROM graft.sql.evolve_$tag WHERE $window")
      require(Graft.plannedFiles(oneDay) == kOld + 1,
        s"mixed grain: a one-day window must plan kOld+1 = ${kOld + 1} " +
          s"leaves (new days prune, old leaves read), " +
          s"planned ${Graft.plannedFiles(oneDay)}")
      val typeOf = s.sql(s"SELECT min(event_type) FROM evolve_src_$tag")
        .collect().head.getString(0)
      val oneType = s.sql(s"SELECT event_id FROM graft.sql.evolve_$tag " +
        s"WHERE event_type = '$typeOf'")
      require(Graft.plannedFiles(oneType) == 1 + dNew,
        s"mixed grain: a type point predicate must plan 1+dNew = " +
          s"${1 + dNew} leaves, planned ${Graft.plannedFiles(oneType)}")
      s.sql(s"OPTIMIZE graft.sql.evolve_$tag")
      val days = s.sql(s"SELECT count(DISTINCT unix_micros(ts) div " +
        s"86400000000) FROM evolve_src_$tag").collect().head.getLong(0)
      require(TxLog.liveFiles(loc).size == days,
        s"OPTIMIZE must migrate to pure day grain ($days leaves), " +
          s"got ${TxLog.liveFiles(loc).size}")
      require(Graft.plannedFiles(s.sql(
        s"SELECT event_id FROM graft.sql.evolve_$tag WHERE $window")) == 1,
        "after migration the one-day window must plan exactly 1 leaf")
      s.sql(s"SELECT unix_micros(ts) div 86400000000 AS day_num, value " +
          s"FROM graft.sql.evolve_$tag")
        .groupBy(col("day_num"))
        .agg(count(lit(1)).as("n"),
          AggOps.sumExact(coalesce(col("value"), lit(0.0))).as("sum_value"))
        .orderBy("day_num")
    },
    Some("""SELECT epoch_us(ts) // 86400000000 AS day_num,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,6))) AS DOUBLE)
          AS sum_value
      FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** REPLACE WHERE ([[graft.sources.TxLog.replaceWhere]], Delta's
    * replaceWhere analogue — the static-partition-overwrite workhorse):
    * one atomic commit swaps every row in a value window for fresh
    * content. REQUIREd: the swap is exactly ONE version; stats-disjoint
    * band files never rewrite (file pruning on the delete side); the
    * containment guard rejects a source row outside the window. Hash:
    * the table after the swap — rows outside the window untouched,
    * inside replaced by the uppercased reload. */
  private val qTxlogReplaceWhere = QuerySpec(
    "q_txlog_replace_where",
    (s, dir) => {
      import graft.sources.TxLog
      val root = Graft.scratch(dir, "replw")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .filter(col("value").isNotNull && col("event_id").isNotNull)
      val bands = Seq((0.0, 25.0), (25.0, 50.0), (50.0, 75.0), (75.0, 1e18))
      bands.zipWithIndex.foreach { case ((lo, hi), i) =>
        val b = ev.filter(col("value") >= lo && col("value") < hi).coalesce(1)
        TxLog.commitWithStats(root, Seq(
          TxLog.writeBatch(b, root, s"band$i") -> TxLog.columnStats(b, "value")))
      }
      val before = TxLog.liveFiles(root)
      val vBefore = TxLog.latestVersion(root)
      // the reload: the [25,50) window re-lands with uppercased types
      val window = col("value") >= 25.0 && col("value") < 50.0
      val fresh = ev.filter(window)
        .select(col("event_id"), upper(col("event_type")).as("event_type"),
          col("value"))
      val v = TxLog.replaceWhere(s, root, "reload", fresh, window)
      require(v == vBefore + 1,
        s"replaceWhere must be ONE atomic commit, got v$v after v$vBefore")
      val after = TxLog.liveFiles(root)
      Seq(0, 2, 3).foreach { i =>
        require(after.exists(_.endsWith(s"/band$i")) &&
          before.exists(_.endsWith(s"/band$i")),
          s"stats-disjoint band$i must not rewrite")
      }
      require(!after.exists(_.endsWith("/band1")),
        "the matching band must have been replaced")
      // containment guard: a source row outside the window is rejected
      val rejected =
        try { TxLog.replaceWhere(s, root, "bad",
          ev.filter(col("value") >= 60.0 && col("value") < 61.0),
          window); false }
        catch { case _: IllegalArgumentException => true }
      require(rejected, "out-of-window source rows must be rejected")
      TxLog.read(s, root).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          AggOps.sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""WITH src AS (
        SELECT event_id,
          CASE WHEN value >= 25.0 AND value < 50.0
               THEN upper(event_type) ELSE event_type END AS event_type,
          value
        FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM src GROUP BY 1 ORDER BY 1"""))

  /** `DESCRIBE DETAIL t` — the operator-facing metadata loop in one
    * statement (Delta's DESCRIBE DETAIL analogue): after a
    * rename + ADD CONSTRAINT + ADD COLUMN + DV-delete + OPTIMIZE
    * sequence, the detail row's version / file count / DV-binding
    * count / constraint set / mapping state / type registry are all
    * hash-pinned against literals — every field deterministic from the
    * verb sequence alone (location and size_bytes, the two
    * box-dependent fields, are projected out). */
  private val qSqlDescribeDetail = QuerySpec(
    "q_sql_describe_detail",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      val root = Graft.scratch(dir, "sqldd")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .filter(col("event_id").isNotNull)
      TxLog.commit(root, Seq(TxLog.writeBatch(
        ev.filter(col("event_id") % 2 === 0).coalesce(1), root, "b0")))
      TxLog.commit(root, Seq(TxLog.writeBatch(
        ev.filter(col("event_id") % 2 === 1).coalesce(1), root, "b1")))
      s.sql(s"DROP TABLE IF EXISTS graft.sql.evdd_$tag")
      s.sql(s"CREATE TABLE graft.sql.evdd_$tag USING graft LOCATION '$root'")
      s.sql(s"ALTER TABLE graft.sql.evdd_$tag RENAME COLUMN value TO amount")
      s.sql(s"ALTER TABLE graft.sql.evdd_$tag " +
        "ADD CONSTRAINT has_id CHECK (event_id IS NOT NULL)")
      s.sql(s"ALTER TABLE graft.sql.evdd_$tag ADD COLUMN note STRING")
      // a DV-masked delete BEFORE the optimize: the pre-optimize detail
      // row shows the binding, the post-optimize one shows it
      // materialized away
      TxLog.deleteWhereDV(s, root, "dv", col("event_id") % 1000 === 7)
      val pre = s.sql(s"DESCRIBE DETAIL graft.sql.evdd_$tag")
        .select("version", "n_files", "n_dv_bound").collect().head
      require(pre.getInt(0) == 6 && pre.getInt(1) == 2 && pre.getInt(2) == 1,
        s"pre-optimize detail must read (v6, 2 files, 1 dv binding), got $pre")
      s.sql(s"OPTIMIZE graft.sql.evdd_$tag TARGET 1")
      s.sql(s"DESCRIBE DETAIL graft.sql.evdd_$tag")
        .select(col("version"), col("n_files"), col("n_dv_bound"),
          col("partition_columns"), col("constraints"),
          col("column_mapped"), col("added_columns"))
    },
    Some("""SELECT CAST(7 AS INT) AS version, CAST(1 AS INT) AS n_files,
        CAST(0 AS INT) AS n_dv_bound, '' AS partition_columns,
        'has_id CHECK (event_id IS NOT NULL)' AS constraints,
        TRUE AS column_mapped, 'c5_note string' AS added_columns"""))

  /** `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS (…)` →
    * [[graft.sources.TxLog.analyze]]: a table ingested WITHOUT stats
    * (plain commits — REQUIREd unprunable first) gains manifest range
    * stats in one METADATA-ONLY commit (REQUIREd zero data files
    * touched), after which the same filter plans 1 of 4 band files
    * (REQUIREd). A deletion-vector delete lands BEFORE the analyze, so
    * the hash also proves the stats restate preserved the binding —
    * the one correctness trap of the add-replaces-entry mechanism. */
  private val qSqlAnalyze = QuerySpec(
    "q_sql_analyze",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      val root = Graft.scratch(dir, "sqlana")
      TxLog.destroy(root)
      val ev = t(s, dir, "events").select(col("event_type"), col("value"))
        .filter(col("value").isNotNull)
      val bands = Seq((0.0, 25.0), (25.0, 50.0), (50.0, 75.0), (75.0, 1e9))
      bands.zipWithIndex.foreach { case ((lo, hi), i) =>
        // PLAIN commits: no stats — the shape every pre-stats ingest has
        TxLog.commit(root, Seq(TxLog.writeBatch(
          ev.filter(col("value") >= lo && col("value") < hi).coalesce(1),
          root, s"band$i")))
      }
      // merge-on-read delete BEFORE analyze, INSIDE the later filter
      // window: if the stats restate dropped the binding, the
      // resurrected rows would inflate the aggregate and break the hash
      TxLog.deleteWhereDV(s, root, "dv",
        col("value") >= 56.0 && col("value") < 57.0)
      s.sql(s"DROP TABLE IF EXISTS graft.sql.evana_$tag")
      s.sql(s"CREATE TABLE graft.sql.evana_$tag USING graft LOCATION '$root'")
      def filtered = s.sql(
        s"SELECT event_type, value FROM graft.sql.evana_$tag " +
          "WHERE value >= 55.0 AND value <= 70.0")
      require(Graft.plannedFiles(filtered) == 4,
        s"a stats-less table must plan every file, " +
          s"planned ${Graft.plannedFiles(filtered)}")
      val filesPre = TxLog.liveFiles(root)
      s.sql(s"ANALYZE TABLE graft.sql.evana_$tag " +
        "COMPUTE STATISTICS FOR COLUMNS (value)")
      require(TxLog.liveFiles(root) == filesPre,
        "ANALYZE must not write or touch a single data file")
      require(Graft.plannedFiles(filtered) == 1,
        s"the analyzed table must plan exactly the in-range band, " +
          s"planned ${Graft.plannedFiles(filtered)}")
      filtered.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          AggOps.sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events
      WHERE value >= 55.0 AND value <= 70.0
        AND NOT (value >= 56.0 AND value < 57.0)
      GROUP BY 1 ORDER BY 1"""))

  /** `SHOW PARTITIONS t` over a PARTITIONED BY catalog table
    * ([[graft.sources.TxLog.partitionValues]]): the live value set read
    * straight off the manifest's leaf dirnames — zero data reads for a
    * purely-ingest-fed table (REQUIREd by interrogating nothing but the
    * statement's own output against the oracle's distinct). */
  private val qSqlShowPartitions = QuerySpec(
    "q_sql_show_partitions",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      val root = Graft.scratch(dir, "sqlshowp")
      TxLog.destroy(root)
      t(s, dir, "events").select(col("event_id"), col("value"))
        .filter(col("event_id").isNotNull)
        .createOrReplaceTempView(s"ev_sp_$tag")
      s.sql(s"DROP TABLE IF EXISTS graft.sql.evshowp_$tag")
      s.sql(s"CREATE TABLE graft.sql.evshowp_$tag " +
        "(event_id BIGINT, value DOUBLE, bucket INT) " +
        "USING graft PARTITIONED BY (bucket)")
      s.sql(s"INSERT INTO graft.sql.evshowp_$tag " +
        "SELECT event_id, value, CAST(pmod(event_id, 7) AS INT) " +
        s"FROM ev_sp_$tag")
      s.sql(s"SHOW PARTITIONS graft.sql.evshowp_$tag")
        .orderBy("partition")
    },
    Some("""SELECT DISTINCT 'bucket=' || CAST(event_id % 7 AS VARCHAR)
        AS partition
      FROM events WHERE event_id IS NOT NULL
      ORDER BY 1"""))

  /** OPTIMIZE on a PARTITIONED table
    * ([[graft.sources.TxLog.optimizePartitionedCols]] via the SQL
    * statement): two INSERT commits give every bucket two leaves; a
    * row-level DELETE then rewrites touched leaves into un-grained
    * residue — the failure mode this verb exists for — and one SQL
    * OPTIMIZE restores PURE value grain (REQUIREd: every live file a
    * `__pv=` leaf, exactly one per value, and a bucket filter plans
    * exactly 1 file again; second run REQUIREd a no-op). The surviving
    * rows hash-check against the oracle's replay of insert + delete. */
  private val qSqlOptimizePart = QuerySpec(
    "q_sql_optimize_part",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      val root = Graft.scratch(dir, "sqloptp")
      TxLog.destroy(root)
      t(s, dir, "events").select(col("event_id"), col("event_type"),
          col("value"))
        .filter(col("event_id").isNotNull)
        .createOrReplaceTempView(s"ev_op_$tag")
      s.sql(s"DROP TABLE IF EXISTS graft.sql.evoptp_$tag")
      s.sql(s"CREATE TABLE graft.sql.evoptp_$tag " +
        "(event_id BIGINT, event_type STRING, value DOUBLE, bucket INT) " +
        s"USING graft PARTITIONED BY (bucket) LOCATION '$root'")
      // both halves span every bucket → every value holds two leaves
      s.sql(s"INSERT INTO graft.sql.evoptp_$tag " +
        "SELECT event_id, event_type, value, " +
        s"CAST(pmod(event_id, 4) AS INT) FROM ev_op_$tag " +
        "WHERE value < 50.0 OR value IS NULL")
      s.sql(s"INSERT INTO graft.sql.evoptp_$tag " +
        "SELECT event_id, event_type, value, " +
        s"CAST(pmod(event_id, 4) AS INT) FROM ev_op_$tag " +
        "WHERE value >= 50.0")
      // the DELETE rewrites touched leaves into un-grained residue
      s.sql(s"DELETE FROM graft.sql.evoptp_$tag " +
        "WHERE value >= 40.0 AND value < 60.0")
      def leafNames = TxLog.liveFiles(root)
        .map(p => new org.apache.hadoop.fs.Path(p).getName)
      require(leafNames.exists(!_.startsWith("__pv=")),
        "the DELETE must have produced residue files")
      s.sql(s"OPTIMIZE graft.sql.evoptp_$tag")
      require(leafNames.sorted ==
        Seq("__pv=0", "__pv=1", "__pv=2", "__pv=3"),
        s"optimize must restore one leaf per value, got $leafNames")
      val filtered = s.sql(
        s"SELECT event_type, value FROM graft.sql.evoptp_$tag " +
          "WHERE bucket = 2")
      require(Graft.plannedFiles(filtered) == 1,
        s"the restored grain must plan 1 leaf, got ${Graft.plannedFiles(filtered)}")
      require(s.sql(s"OPTIMIZE graft.sql.evoptp_$tag")
        .head().getInt(0) == 0, "a second optimize must be a no-op")
      filtered.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          AggOps.sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events
      WHERE event_id IS NOT NULL AND event_id % 4 = 2
        AND NOT COALESCE(value >= 40.0 AND value < 60.0, FALSE)
      GROUP BY 1 ORDER BY 1"""))

  /** STATS-ON-WRITE for the SQL surface ([[graft.sources.TxLog]]
    * `autoStatsFor` via the catalog's V1 insert path): plain INSERT
    * INTO statements — no ANALYZE, no explicit stats API — leave each
    * batch carrying range stats for its numeric columns, so a later
    * filter plans only the overlapping batches (REQUIREd: a filter
    * inside the second insert's value range plans exactly that one
    * batch of three). The filtered aggregate hash-checks against the
    * oracle's full-table replay. */
  private val qSqlAutoStats = QuerySpec(
    "q_sql_auto_stats",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      val root = Graft.scratch(dir, "sqlauto")
      TxLog.destroy(root)
      t(s, dir, "events").select(col("event_id"), col("event_type"),
          col("value"))
        .filter(col("event_id").isNotNull && col("value").isNotNull)
        .createOrReplaceTempView(s"ev_as_$tag")
      s.sql(s"DROP TABLE IF EXISTS graft.sql.evauto_$tag")
      s.sql(s"CREATE TABLE graft.sql.evauto_$tag " +
        "(event_id BIGINT, event_type STRING, value DOUBLE) " +
        s"USING graft LOCATION '$root'")
      // three range-banded inserts, NOTHING but plain SQL
      Seq((0.0, 30.0), (30.0, 60.0), (60.0, 1e9)).foreach { case (lo, hi) =>
        s.sql(s"INSERT INTO graft.sql.evauto_$tag " +
          s"SELECT event_id, event_type, value FROM ev_as_$tag " +
          s"WHERE value >= $lo AND value < $hi")
      }
      val all = s.sql(s"SELECT value FROM graft.sql.evauto_$tag")
      val filtered = s.sql(
        s"SELECT event_type, value FROM graft.sql.evauto_$tag " +
          "WHERE value >= 35.0 AND value <= 55.0")
      require(Graft.plannedFiles(filtered) * 3 <= Graft.plannedFiles(all),
        s"stats-on-write must let the filter plan one band of three, " +
          s"planned ${Graft.plannedFiles(filtered)} of ${Graft.plannedFiles(all)}")
      filtered.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          AggOps.sumExact(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events
      WHERE event_id IS NOT NULL AND value >= 35.0 AND value <= 55.0
      GROUP BY 1 ORDER BY 1"""))

  /** Persistent CHECK constraints as SQL
    * ([[graft.sources.TxLog.addConstraint]] via `ALTER TABLE … ADD
    * CONSTRAINT … CHECK (…)`): the rule is TABLE state in the manifest
    * log, and every subsequent write verb rejects a violating batch
    * with zero footprint — REQUIREd here for INSERT and UPDATE, with
    * the file set and version pinned unchanged across both rejections.
    * Valid writes pass; the final aggregate hash-checks that exactly
    * the accepted rows (and none of the rejected ones) landed. */
  private val qSqlConstraint = QuerySpec(
    "q_sql_constraint",
    (s, dir) => {
      import graft.sources.TxLog
      sqlCatalog(s, dir)
      val tag = dsTag(dir)
      val root = Graft.scratch(dir, "sqlck")
      TxLog.destroy(root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .filter(col("event_id").isNotNull)
      ev.createOrReplaceTempView(s"ev_ck_$tag")
      TxLog.commit(root, Seq(TxLog.writeBatch(
        ev.filter(col("event_id") % 2 === 0), root, "b0")))
      s.sql(s"DROP TABLE IF EXISTS graft.sql.evck_$tag")
      s.sql(s"CREATE TABLE graft.sql.evck_$tag USING graft LOCATION '$root'")
      s.sql(s"ALTER TABLE graft.sql.evck_$tag " +
        "ADD CONSTRAINT id_present CHECK (event_id IS NOT NULL)")
      val vPre = TxLog.latestVersion(root)
      val filesPre = TxLog.liveFiles(root)
      // a violating INSERT must be rejected with zero footprint
      val ins =
        try { s.sql(s"INSERT INTO graft.sql.evck_$tag " +
          "VALUES (CAST(NULL AS BIGINT), 'bad', 1.0)"); "" }
        catch { case e: Exception => e.getMessage }
      require(ins.contains("id_present"),
        s"a violating INSERT must name the constraint, got: $ins")
      // a violating UPDATE too (post-SET rows are what is checked)
      val upd =
        try { s.sql(s"UPDATE graft.sql.evck_$tag " +
          "SET event_id = NULL WHERE event_id % 10 = 0"); "" }
        catch { case e: Exception => e.getMessage }
      require(upd.contains("id_present"),
        s"a violating UPDATE must name the constraint, got: $upd")
      require(TxLog.latestVersion(root) == vPre &&
        TxLog.liveFiles(root) == filesPre,
        "rejected writes must leave no commit behind")
      // the valid half of the table lands fine
      s.sql(s"INSERT INTO graft.sql.evck_$tag " +
        s"SELECT event_id, event_type, value FROM ev_ck_$tag " +
        "WHERE event_id % 2 = 1")
      s.sql(s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM graft.sql.evck_$tag
        GROUP BY event_type ORDER BY event_type""")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events WHERE event_id IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** Native top-k-per-key ([[SortOps.topKPerKey]] → the custom
    * TopKPerKey SparkStrategy/SparkPlan pair): the 3 cheapest lineitems
    * per return flag, selected by two-phase bounded heaps instead of a
    * full window sort. The oracle is the window formulation — the two
    * plans must agree row for row. */
  private val qTopkNative = QuerySpec(
    "q_topk_native",
    (s, dir) => {
      val l = t(s, dir, "lineitem").select(
        col("l_returnflag"), col("l_extendedprice"), col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))
      SortOps.topKPerKey(l, Seq(col("l_returnflag")),
          struct(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity")), k = 3)
        .orderBy("l_returnflag", "l_extendedprice", "l_orderkey",
          "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
    },
    Some("""SELECT l_returnflag, l_extendedprice, l_orderkey,
        l_linenumber, l_partkey, l_suppkey, l_quantity
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
          ORDER BY l_extendedprice, l_orderkey, l_linenumber, l_partkey,
            l_suppkey, l_quantity) AS rn
        FROM (SELECT l_returnflag, l_extendedprice, l_orderkey,
            l_linenumber, l_partkey, l_suppkey, l_quantity
          FROM lineitem) t) x
      WHERE rn <= 3
      ORDER BY l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
        l_partkey, l_suppkey, l_quantity"""))

  /** Incremental join maintenance ([[JoinOps.joinDelta]]): the revenue
    * view's DELTA when 10% of orders and ~14% of lineitems arrive as
    * new batches — aggregated per priority; the oracle replays the
    * identical two-leg delta algebra. */
  private val qJoinDelta = QuerySpec(
    "q_join_delta",
    (s, dir) => {
      import AggOps.sumExact
      val o = t(s, dir, "orders").select(col("o_orderkey").as("key"),
        col("o_orderpriority"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey").as("key"),
        col("l_extendedprice"))
      val ob = TextFunctions.portableBucket(col("key"), 10)
      val lb = TextFunctions.portableBucket(col("key"), 7)
      val delta = JoinOps.joinDelta(
        o.filter(ob < 9), o.filter(ob >= 9),
        l.filter(lb < 6), l.filter(lb >= 6), Seq("key"))
      delta.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sumExact(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    },
    Some("""WITH ob AS (SELECT o_orderkey AS key, o_orderpriority,
          CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
            AS BIGINT) % 10 AS b
        FROM orders),
      lb AS (SELECT l_orderkey AS key, l_extendedprice,
          CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8)
            AS BIGINT) % 7 AS b
        FROM lineitem),
      delta AS (
        SELECT a.o_orderpriority, bn.l_extendedprice
        FROM ob a JOIN lb bn ON a.key = bn.key
        WHERE a.b >= 9
        UNION ALL
        SELECT a.o_orderpriority, bd.l_extendedprice
        FROM ob a JOIN lb bd ON a.key = bd.key
        WHERE a.b < 9 AND bd.b >= 6)
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
          AS sum_price
      FROM delta GROUP BY 1 ORDER BY 1"""))

  /** Retraction IVM ([[JoinOps.joinDeltaSigned]]): batches now contain
    * DELETES too (sign −1) — ~10% of old orders and ~9% of old lineitems
    * retract while the insert batches land. The gate refreshes the
    * priority×flag view INCREMENTALLY (old counts + signed delta nets,
    * zero-net groups dropped); the oracle re-joins the new bases from
    * scratch — incremental must equal recompute, the IVM invariant
    * under retraction. */
  private val qJoinDeltaSigned = QuerySpec(
    "q_join_delta_signed",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey").as("key"),
        col("o_orderpriority"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey").as("key"),
        col("l_returnflag"))
      // pin each base WITH its md5 buckets computed once: the old/delta
      // splits feed five consumers each across the three IVM legs plus
      // the old-view join, and every unpinned consumer re-ran the
      // md5-per-row bucketing over the full table (~5 bucketing passes
      // per side measured in the r16 diag as 13–18 core-s; §2.4 don't
      // recompute). Filters over the pinned long columns are cheap.
      val o2 = o.withColumn("_b10", TextFunctions.portableBucket(col("key"), 10))
        .withColumn("_b13", TextFunctions.portableBucket(col("key"), 13))
        .localCheckpoint()
      val l2 = l.withColumn("_b7", TextFunctions.portableBucket(col("key"), 7))
        .withColumn("_b11", TextFunctions.portableBucket(col("key"), 11))
        .localCheckpoint()
      val oCols = Seq(col("key"), col("o_orderpriority"))
      val lCols = Seq(col("key"), col("l_returnflag"))
      val aOld = o2.filter(col("_b10") < 9).select(oCols: _*)
      val aDelta = o2.filter(col("_b10") >= 9).select(oCols: _*)
        .withColumn("sign", lit(1))
        .unionByName(o2.filter(col("_b10") < 9 && col("_b13") === 0)
          .select(oCols: _*).withColumn("sign", lit(-1)))
      val bOld = l2.filter(col("_b7") < 6).select(lCols: _*)
      val bDelta = l2.filter(col("_b7") >= 6).select(lCols: _*)
        .withColumn("sign", lit(1))
        .unionByName(l2.filter(col("_b7") < 6 && col("_b11") === 0)
          .select(lCols: _*).withColumn("sign", lit(-1)))
      val delta = JoinOps.joinDeltaSigned(aOld, aDelta, bOld, bDelta,
        Seq("key"))
      aOld.join(bOld, Seq("key"))
        .groupBy(col("o_orderpriority"), col("l_returnflag"))
        .agg(count(lit(1)).as("n"))
        .unionByName(
          delta.groupBy(col("o_orderpriority"), col("l_returnflag"))
            .agg(sum(col("sign")).cast("long").as("n")))
        .groupBy(col("o_orderpriority"), col("l_returnflag"))
        .agg(sum(col("n")).as("n_pairs"))
        .filter(col("n_pairs") =!= 0)
        .orderBy("o_orderpriority", "l_returnflag")
    },
    Some("""WITH an AS (SELECT o_orderkey AS key, o_orderpriority
        FROM (SELECT *,
            CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
              AS BIGINT) % 10 AS b10,
            CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
              AS BIGINT) % 13 AS b13
          FROM orders)
        WHERE b10 >= 9 OR (b10 < 9 AND b13 <> 0)),
      bn AS (SELECT l_orderkey AS key, l_returnflag
        FROM (SELECT *,
            CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8)
              AS BIGINT) % 7 AS b7,
            CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8)
              AS BIGINT) % 11 AS b11
          FROM lineitem)
        WHERE b7 >= 6 OR (b7 < 6 AND b11 <> 0))
      SELECT o_orderpriority, l_returnflag,
        CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM an JOIN bn USING (key)
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Retraction IVM, aggregate half ([[AggOps.statsDeltaSigned]]): a
    * per-type (cnt, exact-sum) state built from the old event base
    * refreshes through a signed batch (~10% inserts, ~8% deletes of the
    * base); the oracle recomputes the state from the post-delta base —
    * incremental must equal recompute. Pairs with
    * [[JoinOps.joinDeltaSigned]] to cover materialized join+aggregate
    * views under deletes. */
  private val qStatsDeltaSigned = QuerySpec(
    "q_stats_delta_signed",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val b10 = TextFunctions.portableBucket(col("event_id"), 10)
      val b13 = TextFunctions.portableBucket(col("event_id"), 13)
      val base = ev.filter(b10 < 9)
      val delta = ev.filter(b10 >= 9).withColumn("sign", lit(1))
        .unionByName(base.filter(b13 === 0).withColumn("sign", lit(-1)))
      val state = AggOps.partialStats(base, Seq(col("event_type")),
        col("value"))
      AggOps.statsDeltaSigned(state, delta, Seq(col("event_type")),
          col("value"), col("sign"))
        .select(col("event_type"), col("cnt"),
          col("sum_dec").cast("double").as("sum_value"))
        .orderBy("event_type")
    },
    Some("""WITH nb AS (SELECT event_type, value
        FROM (SELECT *,
            CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 10 AS b10,
            CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 13 AS b13
          FROM events)
        WHERE b10 >= 9 OR (b10 < 9 AND b13 <> 0))
      SELECT event_type, CAST(COUNT(value) AS BIGINT) AS cnt,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM nb GROUP BY 1 ORDER BY 1"""))

  /** Mergeable HLL distinct-count state ([[AggOps.hllState]]/[[AggOps
    * .hllMerge]]/[[AggOps.hllEstimate]]): per-type distinct users, built
    * from three hash-disjoint batches and UNIONED — must land within the
    * sketch's error bound of the exact count AND equal the single-pass
    * sketch exactly (merge transparency: unioning partial sketches is the
    * same sketch as one pass, the property that makes the state usable).
    * Both sides read through a union: a lone sketch reports DataSketches'
    * order-dependent HIP estimate while any union of two or more reports
    * the composite estimate, so the one-pass side is the self-union of
    * the one-pass state (a single-sketch union keeps the HIP figure). */
  private val qHllMerge = QuerySpec(
    "q_hll_merge",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val batches = (0 until 3).map(b => ev.filter(
        TextFunctions.portableBucket(col("event_id"), 3) === b))
      val merged = AggOps.hllEstimate(AggOps.hllMerge(batches.map(b =>
        AggOps.hllState(b, Seq(col("event_type")), col("user_id")))))
        .withColumnRenamed("est_ndv", "est_merged")
      val onePassState =
        AggOps.hllState(ev, Seq(col("event_type")), col("user_id"))
      val onePass = AggOps.hllEstimate(
        AggOps.hllMerge(Seq(onePassState, onePassState)))
        .withColumnRenamed("est_ndv", "est_onepass")
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_ndv"))
      exact.join(merged, Seq("event_type")).join(onePass, Seq("event_type"))
        .select(col("event_type"), col("exact_ndv"),
          (col("est_merged") === col("est_onepass")).as("merge_transparent"),
          (abs(col("est_merged") - col("exact_ndv")).cast("double") /
            col("exact_ndv").cast("double") <= 0.05).as("hll_ok"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, COUNT(DISTINCT user_id) AS exact_ndv,
        TRUE AS merge_transparent, TRUE AS hll_ok
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** Streaming CDC view maintenance: a REAL streaming query consumes a
    * SIGNED change feed — micro-batch 0 inserts the base, batch 1 more
    * inserts, batch 2 DELETES ~8% of the base (sign −1) — and
    * foreachBatch folds each batch into a persisted (cnt, exact-sum)
    * state with [[AggOps.statsDeltaSigned]], reading back the previous
    * batch's state (true sequential view maintenance, not a final
    * merge). The finished state must equal the oracle's recompute over
    * inserts-minus-deletes; `n_batches` pins that three micro-batches
    * really ran. */
  private val qStreamCdcAgg = QuerySpec(
    "q_stream_cdc_agg",
    (s, dir) => {
      val srcDir = java.nio.file.Paths.get(Graft.scratch(dir, "cdc_src"))
      val stateDir = Graft.scratch(dir, "cdc_state")
      val ckpt = Graft.scratch(dir, "cdc_ckpt")
      Seq(stateDir, ckpt).foreach(rmTreeQ)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      // empty seed state with the (keys, cnt, sum_dec) shape
      AggOps.partialStats(ev.limit(0), Seq(col("event_type")), col("value"))
        .coalesce(1).write.mode("overwrite").parquet(s"$stateDir/state_seed")
      val feed = s.readStream
        .schema("event_type STRING, value DOUBLE, sign INT")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      runAvailableNow(s, feed.writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            val prev = if (id == 0L) s"$stateDir/state_seed"
              else s"$stateDir/state_${id - 1}"
            AggOps.statsDeltaSigned(s.read.parquet(prev), batch,
                Seq(col("event_type")), col("value"), col("sign"))
              .coalesce(1).write.mode("overwrite")
              .parquet(s"$stateDir/state_$id")
            ()
        }
        .option("checkpointLocation", ckpt))
      val n = new java.io.File(stateDir).listFiles()
        .count(_.getName.matches("state_\\d+")).toLong
      s.read.parquet(s"$stateDir/state_${n - 1}")
        .select(col("event_type"), lit(n).as("n_batches"), col("cnt"),
          col("sum_dec").cast("double").as("sum_value"))
        .orderBy("event_type")
    },
    Some("""WITH nb AS (SELECT event_type, value
        FROM (SELECT *,
            CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 10 AS b10,
            CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 13 AS b13
          FROM events)
        WHERE b10 >= 7 OR (b10 < 7 AND b13 <> 0))
      SELECT event_type, CAST(3 AS BIGINT) AS n_batches,
        CAST(COUNT(value) AS BIGINT) AS cnt,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM nb GROUP BY 1 ORDER BY 1"""),
    stage = Some((s, dir) => {
      val srcDir = java.nio.file.Paths.get(Graft.scratch(dir, "cdc_src"))
      stageSplitDir(srcDir) { put =>
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value"))
        val b10 = TextFunctions.portableBucket(col("event_id"), 10)
        val b13 = TextFunctions.portableBucket(col("event_id"), 13)
        val batches = Seq(
          ev.filter(b10 < 7).withColumn("sign", lit(1)),
          ev.filter(b10 >= 7).withColumn("sign", lit(1)),
          ev.filter(b10 < 7).filter(b13 === 0).withColumn("sign", lit(-1)))
        batches.zipWithIndex.foreach { case (b, i) =>
          put(b.select("event_type", "value", "sign"),
            s"change_$i.parquet", 1700000000000L + i * 60000L)
        }
      }
    }))

  /** Streaming incremental aggregation: the [[AggOps.partialStats]] /
    * [[AggOps.mergeStats]] state discipline driven by a REAL streaming
    * query — the source is split into three files, streamed one file per
    * micro-batch (AvailableNow), and foreachBatch persists each batch's
    * partial state; the merged+finalized state must equal the direct
    * aggregate over the whole table (oracle computes only the direct
    * form). `n_batches` in the output pins that three separate
    * micro-batches really ran — the incrementality is load-bearing, not
    * incidental. */
  private val qStreamIncremental = QuerySpec(
    "q_stream_incremental",
    (s, dir) => {
      val srcDir = java.nio.file.Paths.get(Graft.scratch(dir, "incr_src"))
      val stateDir = Graft.scratch(dir, "incr_state")
      val ckpt = Graft.scratch(dir, "incr_ckpt")
      // fresh state per run (a reused checkpoint would skip the
      // batches and leave no states)
      Seq(stateDir, ckpt).foreach(rmTreeQ)
      val feed = s.readStream.schema("event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      runAvailableNow(s, feed.writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            AggOps.partialStats(batch, Seq(col("event_type")), col("value"))
              .coalesce(1).write.mode("overwrite")
              .parquet(s"$stateDir/batch_$id")
            ()
        }
        .option("checkpointLocation", ckpt))
      val stateDirs = new java.io.File(stateDir).listFiles()
        .filter(_.getName.startsWith("batch_")).map(_.toString).toSeq.sorted
      val merged = AggOps.mergeStats(stateDirs.map(s.read.parquet(_)))
      AggOps.finalizeStats(merged)
        .select(col("event_type"), lit(stateDirs.size.toLong).as("n_batches"),
          col("cnt"), round(col("sum_v"), 6).as("sum_value"),
          col("min_v").as("min_value"), col("max_v").as("max_value"),
          round(col("avg_v"), 6).as("avg_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(3 AS BIGINT) AS n_batches,
        CAST(COUNT(value) AS BIGINT) AS cnt,
        round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
          AS sum_value,
        MIN(value) AS min_value, MAX(value) AS max_value,
        round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
          / COUNT(value), 6) AS avg_value
      FROM events GROUP BY 1 ORDER BY 1"""),
    stage = Some((s, dir) => {
      val srcDir = java.nio.file.Paths.get(Graft.scratch(dir, "incr_src"))
      stageSplitDir(srcDir) { put =>
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value"))
        (0 until 3).foreach { b =>
          put(ev.filter(TextFunctions.portableBucket(col("event_id"), 3) === b)
              .select("event_type", "value"),
            s"split_$b.parquet", 1700000000000L + b * 60000L)
        }
      }
    }))

  /** STREAMING ingestion near-dup dedup — the production ingest shape for
    * [[DedupOps.incrementalMinhashLsh]], driven by a REAL streaming query:
    * documents arrive in three micro-batches (one file per trigger,
    * AvailableNow), each batch checks itself against the ACCUMULATED
    * signature store (batch-vs-seen + batch-vs-batch) and then appends its
    * own signatures to the store. The load-bearing invariant the oracle
    * pins: the UNION of per-batch pair sets equals the from-scratch
    * full-corpus LSH — every near-dup pair is discovered exactly once, in
    * the micro-batch where its later-arriving member lands (or its own
    * batch for same-batch pairs). `n_batches` pins that three separate
    * micro-batches really ran. At 100 TB this is the shape that keeps
    * ingest cost proportional to the batch: the corpus contributes only
    * its signature table, never re-tokenizes.
    *
    * r11 (VERDICT r10 item 4): the signature store is a
    * [[graft.sources.TxLog]] table, not a raw directory — batches land as
    * atomic commits, each micro-batch reads the prior snapshot (so a
    * batch never sees itself), and [[graft.sources.TxLog.optimize]] runs
    * MID-STREAM between batches 2 and 3: the gate proves the maintenance
    * verb composes with live ingest (batch 3 reads the compacted store
    * and the exactly-once invariant still holds). Version asserts pin
    * the log history (b0, b1, optimize, b2 = 4 versions, 2 live files:
    * the compacted pair + the in-flight batch). */
  private val qStreamLshDedup = QuerySpec(
    "q_stream_lsh_dedup",
    (s, dir) => {
      val srcDir = java.nio.file.Paths.get(Graft.scratch(dir, "lsh_src"))
      val sigStore = Graft.scratch(dir, "lsh_sigs")
      val pairStore = Graft.scratch(dir, "lsh_pairs")
      val ckpt = Graft.scratch(dir, "lsh_ckpt")
      Seq(sigStore, pairStore, ckpt).foreach(rmTreeQ)
      import graft.sources.TxLog
      val emptySigs = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sh64",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType)),
          org.apache.spark.sql.types.StructField("sig",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType)))))
      val feed = s.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      runAvailableNow(s, feed.writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            // the store BEFORE this batch: the txlog snapshot as of the
            // last committed version (this batch's append lands AFTER the
            // read, so a batch never sees itself — its in-batch pairs
            // come from the inner join)
            val seen =
              if (TxLog.latestVersion(sigStore) == 0) emptySigs
              else TxLog.read(s, sigStore)
            // ONE kernel pass: commit the batch signatures to the store,
            // then discover pairs from the written batch file (read-back,
            // zero re-tokenization — the shape a real ingest uses)
            val path = TxLog.writeBatch(
              DedupOps.minhashSignatures(batch, col("doc_id"), col("text"),
                shingleSize = 5, bands = 4, rowsPerBand = 2).coalesce(1),
              sigStore, s"batch_$id")
            TxLog.commit(sigStore, Seq(path))
            DedupOps.incrementalMinhashLshFromSigs(
                s.read.parquet(path), seen,
                bands = 4, rowsPerBand = 2, minJaccard = 0.2)
              .coalesce(1).write.mode("overwrite")
              .parquet(s"$pairStore/batch_$id")
            // maintenance composes with ingest: compact the store while
            // the stream is still running — the NEXT batch must read the
            // optimized snapshot and keep the exactly-once invariant
            if (id == 1) TxLog.optimize(s, sigStore, s"opt_$id", 1)
            ()
        }
        .option("checkpointLocation", ckpt))
      require(TxLog.latestVersion(sigStore) == 4,
        "store history must be b0, b1, mid-stream optimize, b2 = 4 versions")
      require(TxLog.liveFiles(sigStore).size == 2,
        "the compacted pair + the post-optimize batch must be live")
      val pairDirs = new java.io.File(pairStore).listFiles()
        .filter(_.getName.startsWith("batch_")).map(_.toString).toSeq.sorted
      s.read.parquet(pairDirs: _*)
        .select(col("a"), col("b"), col("jaccard"),
          lit(pairDirs.size.toLong).as("n_batches"))
        .orderBy("a", "b")
    },
    Some("""WITH docs AS (
        SELECT doc_id, list_distinct(list_transform(
            generate_series(1, len(toks) - 4),
            i -> array_to_string(toks[i:i+4], ' '))) AS shingles
        FROM (SELECT doc_id,
                list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
              FROM documents) t
        WHERE len(toks) >= 5),
      sigs AS (
        SELECT doc_id, shingles,
          list_min(list_transform(shingles, s -> substr(md5(s), 1, 16))) AS mh0,
          list_min(list_transform(shingles, s -> substr(md5(s), 3, 16))) AS mh1,
          list_min(list_transform(shingles, s -> substr(md5(s), 5, 16))) AS mh2,
          list_min(list_transform(shingles, s -> substr(md5(s), 7, 16))) AS mh3,
          list_min(list_transform(shingles, s -> substr(md5(s), 9, 16))) AS mh4,
          list_min(list_transform(shingles, s -> substr(md5(s), 11, 16))) AS mh5,
          list_min(list_transform(shingles, s -> substr(md5(s), 13, 16))) AS mh6,
          list_min(list_transform(shingles, s -> substr(md5(s), 15, 16))) AS mh7
        FROM docs),
      banded AS (
        SELECT doc_id, shingles, b,
          CASE b WHEN 0 THEN mh0 || '|' || mh1 WHEN 1 THEN mh2 || '|' || mh3
                 WHEN 2 THEN mh4 || '|' || mh5 ELSE mh6 || '|' || mh7 END AS key
        FROM sigs, range(4) r(b)),
      pairs AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM banded x JOIN banded y ON x.b = y.b AND x.key = y.key
          AND x.doc_id < y.doc_id)
      SELECT a, b, jaccard, CAST(3 AS BIGINT) AS n_batches FROM (
        SELECT p.a, p.b,
          ROUND(CAST(len(list_intersect(da.shingles, db.shingles)) AS DOUBLE) /
                len(list_distinct(list_concat(da.shingles, db.shingles))), 6) AS jaccard
        FROM pairs p JOIN docs da ON p.a = da.doc_id
                     JOIN docs db ON p.b = db.doc_id) v
      WHERE jaccard >= 0.2 ORDER BY a, b"""),
    stage = Some((s, dir) => {
      val srcDir = java.nio.file.Paths.get(Graft.scratch(dir, "lsh_src"))
      stageSplitDir(srcDir) { put =>
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        (0 until 3).foreach { b =>
          put(docs.filter(
              TextFunctions.portableBucket(col("doc_id"), 3) === b),
            s"split_$b.parquet", 1700000000000L + b * 60000L)
        }
      }
    }))

  /** OHLC resampling ([[AnalyticsOps.ohlcResample]]): hourly bars per
    * event type over the events stream, id-tiebroken first/last, exact
    * decimal volume. Oracle replays open/close with the same tie-broken
    * window order. */
  private val qOhlc = QuerySpec(
    "q_ohlc",
    (s, dir) => {
      val ev = t(s, dir, "events")
      AnalyticsOps.ohlcResample(ev, Seq(col("event_type")),
          unix_micros(col("ts")), col("event_id"), col("value"),
          bucketUs = 3600L * 1000000L)
        .select(col("event_type"), col("bucket"),
          round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
          round(col("low"), 6).as("low"), round(col("close"), 6).as("close"),
          col("n"), round(col("volume"), 6).as("volume"))
        .orderBy("event_type", "bucket")
    },
    Some("""WITH b AS (SELECT event_type,
          CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 3600000000) AS BIGINT)
            AS bucket,
          epoch_us(ts) AS t, event_id AS id, value AS v
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      r AS (SELECT *,
          row_number() OVER (PARTITION BY event_type, bucket
            ORDER BY t, id) AS ra,
          row_number() OVER (PARTITION BY event_type, bucket
            ORDER BY t DESC, id DESC) AS rd
        FROM b)
      SELECT event_type, bucket,
        round(MAX(CASE WHEN ra = 1 THEN v END), 6) AS open,
        round(MAX(v), 6) AS high, round(MIN(v), 6) AS low,
        round(MAX(CASE WHEN rd = 1 THEN v END), 6) AS close,
        CAST(COUNT(*) AS BIGINT) AS n,
        round(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE), 6) AS volume
      FROM r GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Gini coefficient ([[StatsOps.gini]]): account-balance inequality per
    * nation via the sorted-index identity; exact decimal sums. */
  private val qGini = QuerySpec(
    "q_gini",
    (s, dir) => {
      StatsOps.gini(t(s, dir, "customer"), Seq(col("c_nationkey")),
          col("c_acctbal"))
        .orderBy("c_nationkey")
    },
    Some("""WITH x AS (SELECT c_nationkey AS g, CAST(c_acctbal AS DOUBLE) AS x
        FROM customer WHERE c_acctbal IS NOT NULL AND c_acctbal >= 0),
      r AS (SELECT g, x,
        CAST(row_number() OVER (PARTITION BY g ORDER BY x) AS BIGINT) AS i
        FROM x)
      SELECT g AS c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
        CASE WHEN SUM(CAST(x AS DECIMAL(28,6))) > 0 THEN
          round((2.0 * CAST(SUM(CAST(i * x AS DECIMAL(28,6))) AS DOUBLE))
              / (COUNT(*) * CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE))
            - (COUNT(*) + 1.0) / COUNT(*), 6)
        END AS gini
      FROM r GROUP BY 1 ORDER BY 1"""))

  /** Trailing EWMA ([[StatsOps.ewmaTrailing]]): per-event-type
    * exponentially-weighted mean of the last 5 events, decay 0.7,
    * (ts, id)-ordered. The oracle replays the same 5 lag terms in the
    * same association order, so the float math is bit-identical. */
  private val qEwma = QuerySpec(
    "q_ewma",
    (s, dir) => {
      val ev = t(s, dir, "events")
      StatsOps.ewmaTrailing(ev, col("event_type"), unix_micros(col("ts")),
          col("event_id"), col("value"), BigDecimal("0.7"), k = 5)
        .select(col("k").as("event_type"), col("t").as("ts_us"),
          col("id").as("event_id"), col("x").as("value"), col("ewma"))
        .orderBy("event_type", "ts_us", "event_id")
    },
    Some("""WITH b AS (SELECT event_type AS g, epoch_us(ts) AS t,
          event_id AS id, CAST(value AS DOUBLE) AS x
        FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
      l AS (SELECT g, t, id, x,
          lag(x, 1) OVER w AS x1, lag(x, 2) OVER w AS x2,
          lag(x, 3) OVER w AS x3, lag(x, 4) OVER w AS x4
        FROM b WINDOW w AS (PARTITION BY g ORDER BY t, id))
      SELECT g AS event_type, t AS ts_us, id AS event_id, x AS value,
        round((x * 1.0 + COALESCE(x1, 0.0) * 0.7 + COALESCE(x2, 0.0) * 0.49
            + COALESCE(x3, 0.0) * 0.343 + COALESCE(x4, 0.0) * 0.2401)
          / (1.0 + (CASE WHEN x1 IS NULL THEN 0.0 ELSE 0.7 END)
            + (CASE WHEN x2 IS NULL THEN 0.0 ELSE 0.49 END)
            + (CASE WHEN x3 IS NULL THEN 0.0 ELSE 0.343 END)
            + (CASE WHEN x4 IS NULL THEN 0.0 ELSE 0.2401 END)), 6) AS ewma
      FROM l ORDER BY 1, 2, 3"""))

  /** Lag-1 autocorrelation ([[StatsOps.autocorr]]) of event values per
    * type — Pearson r between the series and its shift. */
  private val qAutocorr = QuerySpec(
    "q_autocorr",
    (s, dir) => {
      val ev = t(s, dir, "events")
      StatsOps.autocorr(ev, Seq(col("event_type")), unix_micros(col("ts")),
          col("event_id"), col("value"), lagK = 1)
        .orderBy("event_type")
    },
    Some("""WITH b AS (SELECT event_type AS g, epoch_us(ts) AS t,
          event_id AS id, CAST(value AS DOUBLE) AS x
        FROM events),
      l AS (SELECT g, x,
          lag(x, 1) OVER (PARTITION BY g ORDER BY t, id) AS xl
        FROM b)
      SELECT g AS event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        round(corr(x, xl), 6) AS autocorr
      FROM l WHERE xl IS NOT NULL AND x IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** CUSUM changepoint scan ([[StatsOps.cusum]]): per-type largest upward
    * excursion of the mean-free cumulative path, earliest argmax; all
    * path math in scaled longs so the oracle replay is exact. */
  private val qCusum = QuerySpec(
    "q_cusum",
    (s, dir) => {
      val ev = t(s, dir, "events")
      StatsOps.cusum(ev, Seq(col("event_type")), unix_micros(col("ts")),
          col("event_id"), col("value"))
        .orderBy("event_type")
    },
    Some("""WITH b AS (SELECT event_type AS g, epoch_us(ts) AS t,
          event_id AS id,
          CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL),
      w1 AS (SELECT g, t, id, x,
          CAST(row_number() OVER (PARTITION BY g ORDER BY t, id) AS BIGINT)
            AS i,
          SUM(x) OVER (PARTITION BY g ORDER BY t, id) AS cum,
          CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n,
          SUM(x) OVER (PARTITION BY g) AS tot
        FROM b),
      w2 AS (SELECT *, cum * n - tot * i AS ns FROM w1),
      w3 AS (SELECT *,
          MIN(ns) OVER (PARTITION BY g ORDER BY t, id) AS runmin
        FROM w2),
      w4 AS (SELECT *, ns - runmin AS exc,
          MAX(ns - runmin) OVER (PARTITION BY g) AS mx
        FROM w3)
      SELECT g AS event_type, MAX(n) AS n,
        round(CAST(MAX(mx) AS DOUBLE) / (MAX(n) * 1000000.0), 6) AS cusum,
        MIN(i) AS change_idx
      FROM w4 WHERE exc = mx GROUP BY 1 ORDER BY 1"""))

  /** Wide-group CUSUM ([[StatsOps.cusumWide]]): the SAME statistic as
    * [[qCusum]] — and the same oracle — computed on the boundary-carried
    * two-level scan instead of per-group windows, so the 5 fat
    * event-type groups run intra-group parallel. Both gates green =
    * the two formulations agree row for row. */
  private val qCusumWide = QuerySpec(
    "q_cusum_wide",
    (s, dir) => {
      val ev = t(s, dir, "events")
      StatsOps.cusumWide(ev, Seq(col("event_type")), unix_micros(col("ts")),
          col("event_id"), col("value"))
        .orderBy("event_type")
    },
    Some("""WITH b AS (SELECT event_type AS g, epoch_us(ts) AS t,
          event_id AS id,
          CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL),
      w1 AS (SELECT g, t, id, x,
          CAST(row_number() OVER (PARTITION BY g ORDER BY t, id) AS BIGINT)
            AS i,
          SUM(x) OVER (PARTITION BY g ORDER BY t, id) AS cum,
          CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n,
          SUM(x) OVER (PARTITION BY g) AS tot
        FROM b),
      w2 AS (SELECT *, cum * n - tot * i AS ns FROM w1),
      w3 AS (SELECT *,
          MIN(ns) OVER (PARTITION BY g ORDER BY t, id) AS runmin
        FROM w2),
      w4 AS (SELECT *, ns - runmin AS exc,
          MAX(ns - runmin) OVER (PARTITION BY g) AS mx
        FROM w3)
      SELECT g AS event_type, MAX(n) AS n,
        round(CAST(MAX(mx) AS DOUBLE) / (MAX(n) * 1000000.0), 6) AS cusum,
        MIN(i) AS change_idx
      FROM w4 WHERE exc = mx GROUP BY 1 ORDER BY 1"""))

  /** Mann-Whitney U ([[StatsOps.mannWhitneyU]]): even- vs odd-user cohorts
    * per event type, tie-corrected z; rank sums in doubled longs. */
  private val qMannWhitney = QuerySpec(
    "q_mann_whitney",
    (s, dir) => {
      val ev = t(s, dir, "events")
      StatsOps.mannWhitneyU(ev, Seq(col("event_type")),
          col("user_id") % 2 === 0, col("value"))
        .orderBy("event_type")
    },
    Some("""WITH b AS (SELECT event_type AS g, (user_id % 2 = 0) AS a,
          CAST(value AS DOUBLE) AS x
        FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
      r AS (SELECT g, a, x,
          CAST(rank() OVER (PARTITION BY g ORDER BY x) AS BIGINT) AS rk,
          CAST(COUNT(*) OVER (PARTITION BY g, x) AS BIGINT) AS ties
        FROM b),
      s AS (SELECT g,
          SUM(CASE WHEN a THEN 1 ELSE 0 END) AS n_a,
          SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS n_b,
          SUM(CASE WHEN a THEN 2 * rk + ties - 1 ELSE 0 END) AS r1x2,
          SUM(ties * ties - 1) AS tieadj,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM r GROUP BY 1),
      u AS (SELECT g, n_a, n_b, r1x2 - n_a * (n_a + 1) AS u2,
          CAST(n_a AS DOUBLE) * n_b / 12.0
            * ((n + 1.0) - CAST(tieadj AS DOUBLE)
              / (CAST(n AS DOUBLE) * (n - 1))) AS var
        FROM s)
      SELECT g AS event_type, CAST(n_a AS BIGINT) AS n_a,
        CAST(n_b AS BIGINT) AS n_b,
        round(CAST(u2 AS DOUBLE) / 2.0, 6) AS u,
        CASE WHEN var > 0 THEN
          round((CAST(u2 AS DOUBLE) / 2.0 - CAST(n_a AS DOUBLE) * n_b / 2.0)
            / sqrt(var), 6)
        END AS z
      FROM u ORDER BY 1"""))

  /** Exact weighted median ([[StatsOps.weightedQuantile]]): quantity-
    * weighted median extended price per return flag, inverse-CDF
    * convention over decimal cumulative weights. */
  private val qWeightedQuantile = QuerySpec(
    "q_weighted_quantile",
    (s, dir) => {
      StatsOps.weightedQuantile(t(s, dir, "lineitem"),
          Seq(col("l_returnflag")), col("l_extendedprice"),
          col("l_quantity"), q = 0.5)
        .orderBy("l_returnflag")
    },
    Some("""WITH b AS (SELECT l_returnflag AS g,
          CAST(l_extendedprice AS DOUBLE) AS x,
          CAST(l_quantity AS DECIMAL(28,6)) AS w
        FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_quantity > 0),
      c AS (SELECT g, x, w,
          SUM(w) OVER (PARTITION BY g ORDER BY x
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
          SUM(w) OVER (PARTITION BY g) AS tw
        FROM b)
      SELECT g AS l_returnflag, MIN(x) AS quantile,
        round(CAST(MAX(tw) AS DOUBLE), 6) AS total_weight
      FROM c WHERE CAST(cw AS DOUBLE) >= CAST(tw AS DOUBLE) * 0.5
      GROUP BY 1 ORDER BY 1"""))

  /** TPC-H Q4 shape (order-priority checking): a quarter's orders
    * semi-joined to their late-shipping lineitems, counted per priority.
    * The semi join is the point — lineitem never materializes into the
    * aggregate, and AQE turns the shuffle side into a broadcast when the
    * filtered order slice is small enough. (Adapted: the synthetic schema
    * has no commit/receipt dates, so "late" = shipped >60 days after the
    * order date.) */
  private val qTpchQ4 = QuerySpec(
    "q_tpch_q4",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1996-04-01")))
      val l = t(s, dir, "lineitem")
      o.join(l, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1996-04-01'
        AND EXISTS (SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY 1 ORDER BY 1"""))

  /** TPC-H Q12 shape (shipping-priority split): orders⋈lineitem over a
    * ship-year, CASE-summed into high/low priority line counts. (Adapted:
    * no l_shipmode column — grouped by l_returnflag instead; the join +
    * conditional-aggregate shape is what the macro exercises.) */
  private val qTpchQ12 = QuerySpec(
    "q_tpch_q12",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      l.join(o, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
        CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
          THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY 1 ORDER BY 1"""))

  /** TPC-H Q14 shape (promotion effect): one month of lineitem joined to
    * part, promo share of revenue as a conditional-sum ratio. The month
    * filter reaches the scan (pushed), and the part join is equi-keyed so
    * AQE broadcast-sizes it at runtime. */
  private val qTpchQ14 = QuerySpec(
    "q_tpch_q14",
    (s, dir) => {
      import AggOps.sumExact
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-09-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-10-01")))
      val p = t(s, dir, "part")
      l.join(p, col("l_partkey") === col("p_partkey"))
        .agg(
          round(lit(100.0) *
            sumExact(when(col("p_type") === "PROMO",
              col("l_extendedprice") * (lit(1) - col("l_discount")))
              .otherwise(lit(0.0)))
            / sumExact(col("l_extendedprice") * (lit(1) - col("l_discount"))),
            6).as("promo_revenue"))
    },
    Some("""SELECT round(100.0
        * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
            THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
            AS DECIMAL(18,6))) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
            AS DECIMAL(18,6))) AS DOUBLE), 6) AS promo_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        AND l_shipdate < TIMESTAMP '1997-10-01'"""))

  /** TPC-H Q18 shape (large-volume customers): lineitem pre-aggregated
    * per order (map-side partials), HAVING-filtered to the big tail, then
    * joined back through orders to customer; top-100 by a
    * TakeOrderedAndProject, never a global sort. The having-filtered key
    * set is tiny, so AQE broadcasts the join-back — the canonical
    * aggregate-then-join-back plan for this query. */
  private val qTpchQ18 = QuerySpec(
    "q_tpch_q18",
    (s, dir) => {
      import AggOps.sumExact
      val l = t(s, dir, "lineitem")
      val big = l.groupBy(col("l_orderkey"))
        .agg(sumExact(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 250.0)
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      big.join(o, col("o_orderkey") === col("l_orderkey"))
        .join(c, col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
    Some("""WITH big AS (SELECT l_orderkey,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY 1
        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 250.0)
      SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        sum_qty
      FROM big JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""))

  /** TPC-H Q19 shape (discounted revenue, disjunctive predicates): the
    * classic pushdown test — three OR'd brand/size/quantity branches that
    * must still prune at the scan and keep the part join equi-keyed. */
  private val qTpchQ19 = QuerySpec(
    "q_tpch_q19",
    (s, dir) => {
      import AggOps.sumExact
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      l.join(p, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#17" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#21" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 30)))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
    },
    Some("""SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
          AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
          AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 25
          AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 35
          AND l_quantity BETWEEN 20 AND 30)"""))

  /** Link prediction ([[GraphOps.linkPrediction]]): common-neighbor /
    * Adamic-Adar / Jaccard scores for non-adjacent part pairs of the
    * co-purchase graph, hub-capped wedge enumeration. */
  private val qLinkPrediction = QuerySpec(
    "q_link_prediction",
    (s, dir) => {
      // co-purchase edges via the per-order bucket fan-out (r12: 1.5 s
      // warm vs 4.2 s for the lineitem self-join + distinct it replaced;
      // linkPrediction dedups the raw pair stream itself). TPC-H orders
      // hold ≤ 7 lines, so the 1000-item hub cap excludes nothing.
      val edges = GraphOps.coOccurrenceEdges(t(s, dir, "lineitem"),
        col("l_orderkey"), col("l_partkey"))
      GraphOps.linkPrediction(edges, maxDegree = 100, minCommon = 5L)
        .orderBy("n1", "n2")
    },
    Some("""WITH e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
      d AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS dg
        FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) nn
        GROUP BY 1),
      dir AS (SELECT u AS w, v AS n FROM e
        UNION ALL SELECT v AS w, u AS n FROM e),
      ctr AS (SELECT dir.w, dir.n, d.dg FROM dir
        JOIN d ON d.n = dir.w WHERE d.dg <= 100),
      sc AS (SELECT a.n AS n1, b.n AS n2, CAST(COUNT(*) AS BIGINT) AS cn,
          CAST(SUM(CAST(floor(1000000000.0 / ln(a.dg) + 0.5) AS BIGINT))
            AS BIGINT) AS aa_e9
        FROM ctr a JOIN ctr b ON a.w = b.w AND a.n < b.n
        GROUP BY 1, 2 HAVING COUNT(*) >= 5),
      ne AS (SELECT sc.* FROM sc
        LEFT JOIN e ON e.u = sc.n1 AND e.v = sc.n2 WHERE e.u IS NULL)
      SELECT n1, n2, cn, aa_e9,
        CAST(floor(1000000.0 * cn / (d1.dg + d2.dg - cn) + 0.5) AS BIGINT)
          AS jaccard_e6
      FROM ne JOIN d d1 ON d1.n = ne.n1 JOIN d d2 ON d2.n = ne.n2
      ORDER BY 1, 2"""))

  /** Shingle containment ([[DedupOps.containmentPairs]]): asymmetric
    * subset/superset near-dup detection over documents, df-capped
    * candidates, exact set arithmetic on survivors. */
  private val qContainment = QuerySpec(
    "q_containment_pairs",
    (s, dir) =>
      DedupOps.containmentPairs(t(s, dir, "documents"), col("doc_id"),
          col("text"), shingleSize = 5, maxBucket = 50,
          minContainment = 0.3)
        .orderBy("a", "b"),
    Some("""WITH docs AS (
        SELECT doc_id, list_distinct(list_transform(
            generate_series(1, len(toks) - 4),
            i -> array_to_string(toks[i:i+4], ' '))) AS shingles
        FROM (SELECT doc_id,
                list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
              FROM documents) t
        WHERE len(toks) >= 5),
      posting AS (SELECT doc_id, unnest(shingles) AS sh FROM docs),
      rare AS (SELECT sh FROM posting GROUP BY sh HAVING COUNT(*) <= 50),
      pruned AS (SELECT p.doc_id, p.sh FROM posting p JOIN rare r ON p.sh = r.sh),
      pairs AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM pruned x JOIN pruned y ON x.sh = y.sh AND x.doc_id < y.doc_id)
      SELECT a, b, inter, na, nb, c_ab, c_ba FROM (
        SELECT p.a, p.b,
          CAST(len(list_intersect(da.shingles, db.shingles)) AS BIGINT)
            AS inter,
          CAST(len(da.shingles) AS BIGINT) AS na,
          CAST(len(db.shingles) AS BIGINT) AS nb,
          round(CAST(len(list_intersect(da.shingles, db.shingles)) AS DOUBLE)
            / len(da.shingles), 6) AS c_ab,
          round(CAST(len(list_intersect(da.shingles, db.shingles)) AS DOUBLE)
            / len(db.shingles), 6) AS c_ba
        FROM pairs p JOIN docs da ON p.a = da.doc_id
                     JOIN docs db ON p.b = db.doc_id) v
      WHERE c_ab >= 0.3 OR c_ba >= 0.3 ORDER BY a, b"""))

  /** DP mean release ([[QualityOps.dpMean]]): per-language mean document
    * length, clamped to [0,1000], seeded-Laplace noisy sum over noisy
    * count; the oracle replays the md5-keyed noise exactly. */
  private val qDpMean = QuerySpec(
    "q_dp_mean",
    (s, dir) =>
      QualityOps.dpMean(t(s, dir, "documents"), col("lang"), col("n_chars"),
          lo = 0.0, hi = 1000.0, epsSum = 0.5, epsCount = 0.5,
          seed = "graft-r7")
        .orderBy("k"),
    Some("""WITH c AS (SELECT lang AS k, COUNT(*) AS n,
          CAST(SUM(CAST(least(greatest(CAST(n_chars AS DOUBLE), 0.0), 1000.0)
            AS DECIMAL(18,6))) AS DOUBLE) AS s
        FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
      u AS (SELECT k, n, s,
          (CAST(CAST('0x' || substr(md5('graft-r7|sum|' || k), 1, 8)
            AS BIGINT) AS DOUBLE) + 1.0) / 4294967298.0 - 0.5 AS us,
          (CAST(CAST('0x' || substr(md5('graft-r7|cnt|' || k), 1, 8)
            AS BIGINT) AS DOUBLE) + 1.0) / 4294967298.0 - 0.5 AS uc
        FROM c),
      r AS (SELECT k,
          s + (-(2000.0) * sign(us) * ln(1.0 - 2.0 * abs(us))) AS ds,
          greatest(n + (-(2.0) * sign(uc) * ln(1.0 - 2.0 * abs(uc))), 1.0)
            AS dn
        FROM u)
      SELECT k, CAST(floor(ds / dn * 1000000.0 + 0.5) AS BIGINT)
        AS dp_mean_e6
      FROM r ORDER BY k"""))

  /** Generalization to k ([[QualityOps.generalizeToK]]): account balances
    * recoded up a 100/1000/5000/10000 bin ladder until every class holds
    * k=10 rows; releases the chosen level's histogram. */
  private val qGeneralizeK = QuerySpec(
    "q_generalize_k",
    (s, dir) =>
      QualityOps.generalizeToK(t(s, dir, "customer"), col("c_acctbal"),
          widths = Seq(100L, 1000L, 5000L, 10000L), k = 10L)
        .orderBy("bin_lo"),
    Some("""WITH x AS (SELECT CAST(c_acctbal AS DOUBLE) AS x
        FROM customer WHERE c_acctbal IS NOT NULL),
      b AS (SELECT w.width, CAST(floor(x.x / w.width) * w.width AS BIGINT)
            AS bin_lo, CAST(COUNT(*) AS BIGINT) AS n
        FROM x CROSS JOIN (VALUES (100), (1000), (5000), (10000)) w(width)
        GROUP BY 1, 2),
      v AS (SELECT COALESCE(MIN(width), 10000) AS width
        FROM (SELECT width, MIN(n) AS mn FROM b GROUP BY 1) t
        WHERE mn >= 10)
      SELECT CAST(b.width AS BIGINT) AS width, bin_lo, n
      FROM b JOIN v ON b.width = v.width ORDER BY bin_lo"""))

  /** Opening-path mining ([[AnalyticsOps.topPaths]]): each user's first
    * three event types as an ordered path, counted across users. */
  private val qTopPaths = QuerySpec(
    "q_top_paths",
    (s, dir) => {
      val ev = t(s, dir, "events")
      AnalyticsOps.topPaths(ev, col("user_id"), unix_micros(col("ts")),
          col("event_id"), col("event_type"), steps = 3, minSupport = 2L)
        .orderBy("path")
    },
    Some("""WITH b AS (SELECT user_id AS u, epoch_us(ts) AS t,
          event_id AS id, event_type AS e
        FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
      r AS (SELECT u, e,
          row_number() OVER (PARTITION BY u ORDER BY t, id) AS rn
        FROM b),
      p AS (SELECT u, concat_ws('>',
          MAX(CASE WHEN rn = 1 THEN e END),
          MAX(CASE WHEN rn = 2 THEN e END),
          MAX(CASE WHEN rn = 3 THEN e END)) AS path
        FROM r WHERE rn <= 3 GROUP BY u)
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_subjects
      FROM p GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY 1"""))

  /** KMV distinct sketch ([[AggOps.kmvDistinct]]): per-event-type
    * distinct users via the k-minimum-hash order statistic — an
    * approximate count the oracle replays exactly, because the estimate
    * is a deterministic function of the hashed set. */
  private val qKmvDistinct = QuerySpec(
    "q_kmv_distinct",
    (s, dir) =>
      AggOps.kmvDistinct(t(s, dir, "events"), col("event_type"),
          col("user_id"), k = 64, seed = "graft-r7")
        .orderBy("k"),
    Some("""WITH d AS (SELECT DISTINCT event_type AS k,
          CAST(user_id AS VARCHAR) AS v
        FROM events WHERE user_id IS NOT NULL),
      h AS (SELECT k, v,
          CAST('0x' || substr(md5('graft-r7|' || v), 1, 15) AS BIGINT) AS hv
        FROM d),
      r AS (SELECT k, v, hv,
          row_number() OVER (PARTITION BY k ORDER BY hv, v) AS rn
        FROM h),
      s AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(hv) AS hk
        FROM r WHERE rn <= 64 GROUP BY 1)
      SELECT k, n_kept,
        CASE WHEN n_kept < 64 THEN n_kept
          ELSE CAST(floor(63.0 * 1152921504606846976.0 / hk + 0.5) AS BIGINT)
        END AS est_distinct
      FROM s ORDER BY k"""))

  /** Rolling z-score anomalies ([[StatsOps.rollingAnomalies]]): events
    * scored against their 20-row trailing baseline, |z| > 3 emitted;
    * exact integer frame sums so the replay is bit-identical. */
  private val qRollingAnomaly = QuerySpec(
    "q_rolling_anomaly",
    (s, dir) =>
      StatsOps.rollingAnomalies(t(s, dir, "events"), col("event_type"),
          unix_micros(col("ts")), col("event_id"), col("value"),
          k = 20, threshold = 3.0)
        .orderBy("key", "t", "id"),
    Some("""WITH b AS (SELECT event_type AS key, epoch_us(ts) AS t,
          event_id AS id,
          CAST(floor(CAST(value AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
      w AS (SELECT key, t, id, x,
          COUNT(x) OVER fr AS n, SUM(x) OVER fr AS s, SUM(x * x) OVER fr AS ss
        FROM b WINDOW fr AS (PARTITION BY key ORDER BY t, id
          ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
      z AS (SELECT key, t, id, x,
          (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / 20) / 19 AS vv,
          (x - CAST(s AS DOUBLE) / 20)
            / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / 20) / 19)
            AS zz
        FROM w WHERE n = 20)
      SELECT key, t, id, round(x / 1000.0, 3) AS x,
        CAST(floor(zz * 1000000.0 + 0.5) AS BIGINT) AS z_e6
      FROM z WHERE vv > 0 AND abs(zz) > 3.0 ORDER BY key, t, id"""))

  /** Peak concurrency ([[AnalyticsOps.maxConcurrency]]): each event is an
    * interval of `value` seconds; the boundary sweep finds the per-type
    * peak live count and its first attainment time. */
  private val qMaxConcurrency = QuerySpec(
    "q_max_concurrency",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("_start", unix_micros(col("ts")))
        .withColumn("_end", col("_start") +
          floor(col("value") * 1e6).cast("long"))
      AnalyticsOps.maxConcurrency(ev, Seq(col("event_type")),
          col("_start"), col("_end"))
        .orderBy("event_type")
    },
    Some("""WITH iv AS (SELECT event_type AS g, epoch_us(ts) AS s,
          epoch_us(ts) + CAST(floor(CAST(value AS DOUBLE) * 1000000.0)
            AS BIGINT) AS e
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      f AS (SELECT g, s, e FROM iv WHERE e > s),
      b AS (SELECT g, s AS t, 1 AS d FROM f
        UNION ALL SELECT g, e, -1 FROM f),
      w AS (SELECT g, t, d,
          SUM(d) OVER (PARTITION BY g ORDER BY t, d) AS live
        FROM b),
      m AS (SELECT g, t, live, MAX(live) OVER (PARTITION BY g) AS mx
        FROM w)
      SELECT g AS event_type, CAST(MAX(mx) AS BIGINT) AS peak,
        MIN(t) AS peak_at
      FROM m WHERE live = mx GROUP BY 1 ORDER BY 1"""))

  /** FastSS edit-distance join ([[DedupOps.editDistancePairs]]):
    * deletion-neighborhood equi-join over customer names, verified with
    * exact Levenshtein; the oracle brute-forces all pairs — the complete
    * candidate set is the guarantee under test. */
  private val qEditDistance = QuerySpec(
    "q_edit_distance_pairs",
    (s, dir) =>
      DedupOps.editDistancePairs(t(s, dir, "customer"), col("c_name"))
        .orderBy("a", "b"),
    Some("""WITH n AS (SELECT DISTINCT c_name AS s
        FROM customer WHERE c_name IS NOT NULL)
      SELECT a.s AS a, b.s AS b,
        CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
      FROM n a JOIN n b ON a.s < b.s AND levenshtein(a.s, b.s) <= 1
      ORDER BY 1, 2"""))

  /** SCD2 history ([[QualityOps.scd2Build]]): each user's event_type
    * change log as validity intervals, no-op changes collapsed. */
  private val qScd2 = QuerySpec(
    "q_scd2_history",
    (s, dir) =>
      QualityOps.scd2Build(t(s, dir, "events"), col("user_id"),
          unix_micros(col("ts")), col("event_id"), col("event_type"))
        .orderBy("k", "valid_from", "value"),
    Some("""WITH b AS (SELECT user_id AS k, epoch_us(ts) AS t,
          event_id AS sq, event_type AS v
        FROM events WHERE ts IS NOT NULL),
      l AS (SELECT k, t, sq, v,
          lag(v) OVER w AS pv, row_number() OVER w AS rn
        FROM b WINDOW w AS (PARTITION BY k ORDER BY t, sq)),
      f AS (SELECT k, t, sq, v FROM l
        WHERE rn = 1 OR v IS DISTINCT FROM pv),
      o AS (SELECT k, v AS value, t AS valid_from,
          lead(t) OVER (PARTITION BY k ORDER BY t, sq) AS valid_to
        FROM f)
      SELECT k, value, valid_from, valid_to,
        valid_to IS NULL AS is_current
      FROM o ORDER BY k, valid_from, value"""))

  /** Benford audit ([[QualityOps.benfordAudit]]): first-digit law check
    * on extended prices per return flag, per-digit expected counts and
    * χ² contributions. */
  private val qBenford = QuerySpec(
    "q_benford",
    (s, dir) =>
      QualityOps.benfordAudit(t(s, dir, "lineitem"),
          Seq(col("l_returnflag")), col("l_extendedprice"), scale = 2)
        .orderBy("l_returnflag", "digit"),
    Some("""WITH b AS (SELECT l_returnflag AS g,
          CAST(floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100 + 0.5)
            AS BIGINT) AS v
        FROM lineitem WHERE l_extendedprice IS NOT NULL),
      d AS (SELECT g, CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT)
            AS digit, CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM b WHERE v > 0 GROUP BY 1, 2),
      t AS (SELECT g, digit, n_obs,
          SUM(n_obs) OVER (PARTITION BY g) AS n FROM d),
      e AS (SELECT g, digit, n_obs,
          n * (ln(1.0 + 1.0 / digit) / ln(10.0)) AS ex FROM t)
      SELECT g AS l_returnflag, digit, n_obs,
        CAST(floor(ex * 1000000.0 + 0.5) AS BIGINT) AS expected_e6,
        CAST(floor((n_obs - ex) * (n_obs - ex) / ex * 1000000.0 + 0.5)
          AS BIGINT) AS chi2_e6
      FROM e ORDER BY 1, 2"""))

  /** Bigram-LM perplexity ([[CorpusOps.perplexity]]): every document
    * scored by its corpus-trained smoothed bigram NLL — the classic
    * LM-based quality filter, per-term quantized so the replay is exact. */
  /** Naive-Bayes domain classification ([[CorpusOps.nbTrain]] +
    * [[CorpusOps.nbScore]]): the model trains on the corpus's own `lang`
    * labels, every document is scored against every label with exact
    * integer log-likelihoods, and the argmax label is released. The
    * oracle retrains the identical closed-form model in SQL (same add-α
    * smoothing, same 1e-9 quantization before any sum), so both the
    * training counts and the scoring fold are hash-checked. */
  private val qNbClassify = QuerySpec(
    "q_nb_classify",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val model = CorpusOps.nbTrain(docs, col("lang"), col("text"),
        alpha = 1.0)
      CorpusOps.nbScore(docs, col("doc_id"), col("text"), model)
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
        SELECT d.doc_id, d.lang AS label,
          unnest(list_filter(string_split_regex(d.text, '\s+'),
            x -> x <> '')) AS w
        FROM documents d),
      tc AS (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      lt AS (SELECT label, w, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      lsum AS (SELECT label, SUM(c) AS cl FROM lt GROUP BY 1),
      vocab AS (SELECT COUNT(DISTINCT w) AS v FROM toks),
      prior AS (SELECT lang AS label,
          CAST(floor(ln(CAST(COUNT(*) AS DOUBLE)
            / (SELECT COUNT(*) FROM documents)) * 1e9 + 0.5) AS BIGINT)
            AS prior_e9
        FROM documents GROUP BY 1),
      lp AS (SELECT lt.label, lt.w,
          CAST(floor(ln((CAST(lt.c AS DOUBLE) + 1.0)
            / (CAST(ls.cl AS DOUBLE) + 1.0 * v.v)) * 1e9 + 0.5) AS BIGINT)
            AS lp_e9
        FROM lt, lsum ls, vocab v WHERE lt.label = ls.label),
      defs AS (SELECT ls.label,
          CAST(floor(ln(1.0 / (CAST(ls.cl AS DOUBLE) + 1.0 * v.v))
            * 1e9 + 0.5) AS BIGINT) AS def_e9
        FROM lsum ls, vocab v),
      scored AS (SELECT tc.doc_id, d.label,
          MIN(p.prior_e9) + SUM(tc.c * COALESCE(lp.lp_e9, d.def_e9))
            AS score_e9
        FROM tc CROSS JOIN defs d
        LEFT JOIN lp ON lp.label = d.label AND lp.w = tc.w
        JOIN prior p ON p.label = d.label
        GROUP BY 1, 2),
      best AS (SELECT doc_id, label, score_e9,
          ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY score_e9 DESC, label) AS rn
        FROM scored)
      SELECT doc_id, label, CAST(score_e9 AS BIGINT) AS score_e9
      FROM best WHERE rn = 1
      ORDER BY doc_id"""))

  private val qPerplexity = QuerySpec(
    "q_perplexity",
    (s, dir) =>
      CorpusOps.perplexity(t(s, dir, "documents"), col("doc_id"),
          col("text"), alpha = 0.5)
        .orderBy("doc_id"),
    Some("""WITH d AS (SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
        FROM documents),
      toks AS (SELECT doc_id, tk[u.i] AS w
        FROM d, unnest(generate_series(1, len(tk))) AS u(i)),
      big AS (SELECT doc_id, tk[u.i] AS w1, tk[u.i + 1] AS w2
        FROM d, unnest(generate_series(1, len(tk) - 1)) AS u(i)),
      uni AS (SELECT w AS w1, CAST(COUNT(*) AS BIGINT) AS c1
        FROM toks GROUP BY 1),
      bigc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM big GROUP BY 1, 2),
      voc AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
      scored AS (SELECT b.doc_id,
          CAST(floor(-ln((c12 + 0.5) / (c1 + 0.5 * v)) * 1000000000.0 + 0.5)
            AS BIGINT) AS nll
        FROM big b JOIN bigc ON b.w1 = bigc.w1 AND b.w2 = bigc.w2
        JOIN uni ON b.w1 = uni.w1 CROSS JOIN voc)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        CAST(floor(CAST(SUM(nll) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
          AS avg_nll_e9
      FROM scored GROUP BY 1 ORDER BY 1"""))

  /** Golden record ([[QualityOps.goldenRecord]]): per-user survivorship —
    * each field independently keeps its most recent non-null value. */
  private val qGoldenRecord = QuerySpec(
    "q_golden_record",
    (s, dir) =>
      QualityOps.goldenRecord(t(s, dir, "events"), col("user_id"),
          unix_micros(col("ts")), col("event_id"),
          Seq("event_type", "value", "props"))
        .orderBy("k"),
    Some("""WITH b AS (SELECT user_id AS k, epoch_us(ts) AS t,
          event_type, value, props,
          lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || '|'
            || lpad(CAST(event_id AS VARCHAR), 20, '0') AS ord
        FROM events)
      SELECT k,
        arg_max(event_type,
          CASE WHEN event_type IS NOT NULL THEN ord END) AS event_type,
        arg_max(value, CASE WHEN value IS NOT NULL THEN ord END) AS value,
        arg_max(props, CASE WHEN props IS NOT NULL THEN ord END) AS props,
        MAX(t) AS last_ts, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM b GROUP BY 1 ORDER BY 1"""))

  /** FK audit ([[QualityOps.fkOrphans]]): lineitem→part referential
    * integrity as a one-row summary. */
  private val qFkAudit = QuerySpec(
    "q_fk_audit",
    (s, dir) =>
      QualityOps.fkOrphans(t(s, dir, "lineitem"), col("l_partkey"),
          t(s, dir, "part"), col("p_partkey")),
    Some("""WITH c AS (SELECT l_partkey AS fk FROM lineitem),
      p AS (SELECT DISTINCT p_partkey AS fk FROM part),
      nn AS (SELECT c.fk FROM c WHERE c.fk IS NOT NULL),
      orp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orphans
        FROM nn LEFT JOIN p ON nn.fk = p.fk WHERE p.fk IS NULL),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_child,
          CAST(SUM(CASE WHEN fk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_null_fk
        FROM c)
      SELECT n_child, n_null_fk, n_orphans,
        CAST(floor(CAST(n_orphans AS DOUBLE)
          / greatest(n_child - n_null_fk, 1) * 1000000.0 + 0.5) AS BIGINT)
          AS orphan_rate_e6
      FROM tot, orp"""))

  /** KMV overlap ([[AggOps.kmvOverlap]]): audience overlap between event
    * types from k-min sketches alone — union, Jaccard, and intersection
    * estimates, replayed exactly by the oracle. */
  private val qKmvOverlap = QuerySpec(
    "q_kmv_overlap",
    (s, dir) =>
      AggOps.kmvOverlap(t(s, dir, "events"), col("event_type"),
          col("user_id"), k = 64, seed = "graft-r7")
        .orderBy("ga", "gb"),
    Some("""WITH d AS (SELECT DISTINCT event_type AS g,
          CAST(user_id AS VARCHAR) AS v
        FROM events WHERE user_id IS NOT NULL),
      h AS (SELECT g, v,
          CAST('0x' || substr(md5('graft-r7|' || v), 1, 15) AS BIGINT) AS hv
        FROM d),
      sk AS (SELECT g, hv FROM (SELECT g, hv,
          row_number() OVER (PARTITION BY g ORDER BY hv, v) AS rn FROM h) t
        WHERE rn <= 64),
      gs AS (SELECT DISTINCT g FROM sk),
      pairs AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b
        ON a.g < b.g),
      u AS (SELECT ga, gb, hv, COUNT(*) AS sides FROM (
          SELECT p.ga, p.gb, s.hv FROM pairs p JOIN sk s ON s.g = p.ga
          UNION ALL
          SELECT p.ga, p.gb, s.hv FROM pairs p JOIN sk s ON s.g = p.gb) x
        GROUP BY 1, 2, 3),
      r AS (SELECT ga, gb, hv, sides,
          row_number() OVER (PARTITION BY ga, gb ORDER BY hv) AS rn
        FROM u),
      agg AS (SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS m, MAX(hv) AS hk,
          CAST(SUM(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_common
        FROM r WHERE rn <= 64 GROUP BY 1, 2),
      est AS (SELECT ga, gb, m, n_common,
          CASE WHEN m < 64 THEN m
            ELSE CAST(floor(63.0 * 1152921504606846976.0 / hk + 0.5)
              AS BIGINT) END AS est_union
        FROM agg)
      SELECT ga, gb, n_common,
        CAST(floor(CAST(n_common AS DOUBLE) / m * 1000000.0 + 0.5)
          AS BIGINT) AS jaccard_e6,
        est_union,
        CAST(floor(CAST(n_common AS DOUBLE) / m * est_union + 0.5)
          AS BIGINT) AS est_inter
      FROM est ORDER BY 1, 2"""))

  /** Mode ([[StatsOps.mode]]): most common market segment per nation,
    * smallest-segment tiebreak. */
  private val qMode = QuerySpec(
    "q_mode",
    (s, dir) =>
      StatsOps.mode(t(s, dir, "customer"), Seq(col("c_nationkey")),
          col("c_mktsegment"))
        .orderBy("c_nationkey"),
    Some("""WITH c AS (SELECT c_nationkey AS g, c_mktsegment AS v,
          COUNT(*) AS c FROM customer
        WHERE c_mktsegment IS NOT NULL GROUP BY 1, 2),
      r AS (SELECT g, v, c,
          row_number() OVER (PARTITION BY g ORDER BY c DESC, v) AS rn
        FROM c)
      SELECT g AS c_nationkey, v AS mode, CAST(c AS BIGINT) AS n_mode
      FROM r WHERE rn = 1 ORDER BY 1"""))

  /** Trimmed mean ([[StatsOps.trimmedMean]]): 10%-trimmed mean extended
    * price per return flag, exact-rank band, decimal mean. */
  private val qTrimmedMean = QuerySpec(
    "q_trimmed_mean",
    (s, dir) =>
      StatsOps.trimmedMean(t(s, dir, "lineitem"), Seq(col("l_returnflag")),
          col("l_extendedprice"), trim = 0.1)
        .orderBy("l_returnflag"),
    Some("""WITH b AS (SELECT l_returnflag AS g,
          CAST(l_extendedprice AS DOUBLE) AS x
        FROM lineitem WHERE l_extendedprice IS NOT NULL),
      r AS (SELECT g, x,
          CAST(row_number() OVER (PARTITION BY g ORDER BY x) AS BIGINT)
            AS rn,
          CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM b),
      f AS (SELECT g, x FROM r
        WHERE rn > CAST(ceil(n * 0.1) AS BIGINT)
          AND rn <= n - CAST(ceil(n * 0.1) AS BIGINT))
      SELECT g AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_kept,
        round(CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6)
          AS trimmed_mean
      FROM f GROUP BY 1 ORDER BY 1"""))

  /** Behavioral trigrams ([[AnalyticsOps.eventKgrams]]): every
    * consecutive event-type triple per user, support-floored. */
  private val qEventKgrams = QuerySpec(
    "q_event_kgrams",
    (s, dir) =>
      AnalyticsOps.eventKgrams(t(s, dir, "events"), col("user_id"),
          unix_micros(col("ts")), col("event_id"), col("event_type"),
          k = 3, minSupport = 5L)
        .orderBy("pattern"),
    Some("""WITH b AS (SELECT user_id AS u, epoch_us(ts) AS t,
          event_id AS id, event_type AS e
        FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
      l AS (SELECT u, e, lead(e, 1) OVER w AS e1, lead(e, 2) OVER w AS e2
        FROM b WINDOW w AS (PARTITION BY u ORDER BY t, id)),
      p AS (SELECT u, e || '>' || e1 || '>' || e2 AS pattern
        FROM l WHERE e1 IS NOT NULL AND e2 IS NOT NULL),
      s AS (SELECT u, pattern, COUNT(*) AS c FROM p GROUP BY 1, 2)
      SELECT pattern, CAST(SUM(c) AS BIGINT) AS n_occurrences,
        CAST(COUNT(*) AS BIGINT) AS n_subjects
      FROM s GROUP BY 1 HAVING SUM(c) >= 5 ORDER BY 1"""))

  /** Linear interpolation ([[GroupOps.interpolateMissing]]): every 7th
    * event's value masked null, then lerped back from its in-series
    * neighbors; edge nulls stay null. */
  private val qInterpolate = QuerySpec(
    "q_interpolate",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("value",
          when(col("event_id") % 7 === 0, lit(null).cast("double"))
            .otherwise(col("value")))
      GroupOps.interpolateMissing(ev, col("event_type"),
          unix_micros(col("ts")), col("event_id"), col("value"))
        .orderBy("k", "t", "id")
    },
    Some("""WITH b AS (SELECT event_type AS k, epoch_us(ts) AS t,
          event_id AS id,
          CASE WHEN event_id % 7 = 0 THEN NULL
            ELSE CAST(value AS DOUBLE) END AS v
        FROM events WHERE ts IS NOT NULL),
      w AS (SELECT k, t, id, v,
          last_value(v IGNORE NULLS) OVER wp AS pv,
          last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
            OVER wp AS pt,
          first_value(v IGNORE NULLS) OVER wn AS nv,
          first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
            OVER wn AS nt
        FROM b WINDOW
          wp AS (PARTITION BY k ORDER BY t, id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          wn AS (PARTITION BY k ORDER BY t, id
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
      SELECT k, t, id, v,
        CASE WHEN v IS NOT NULL THEN v
          WHEN pv IS NOT NULL AND nv IS NOT NULL
            THEN round(pv + (nv - pv) * (t - pt) / (nt - pt), 6)
        END AS value_filled,
        (v IS NULL AND pv IS NOT NULL AND nv IS NOT NULL)
          AS was_interpolated
      FROM w ORDER BY k, t, id"""))

  /** End-to-end corpus prep — the flagship composition the LLM-pipeline
    * operators exist for, as ONE dataflow: quality filter (length /
    * language / repetition, the q_corpus_filter rules) → exact dedup
    * (text hash, smallest-id survivor) → greedy 512-token sequence
    * packing over the deterministic shuffle order. The oracle replays
    * every stage, so the gate pins the whole pipeline's semantics, not
    * just each operator's. */
  private val qCorpusPipeline = QuerySpec(
    "q_corpus_pipeline",
    (s, dir) => {
      val docs = core.Graft.rebalanceForCompute(t(s, dir, "documents"))
      val rep = MapOps.repetitionStats(docs, col("doc_id"), col("text"),
          n = 3)
        .select(col("doc_id"), col("rep_ratio"))
      val kept = docs.select(col("doc_id"), col("text"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"),
          TextFunctions.langIdHeuristic(col("text")).as("lang"))
        .join(rep, Seq("doc_id"), "left")
        .withColumn("rep_ratio", coalesce(col("rep_ratio"), lit(0.0)))
        .filter(col("n_tok") >= 20 && col("lang") =!= "unk" &&
          col("rep_ratio") <= 0.06)
      val deduped = kept.groupBy(md5(col("text")).as("_h"))
        .agg(min(col("doc_id")).as("doc_id"), min(col("n_tok")).as("n_tok"))
      CorpusOps.packSequences(deduped, col("doc_id"), col("n_tok"), 512)
        .select(col("doc_id"), col("n_tokens"), col("start_offset"),
          col("first_example"), col("last_example"), col("straddles"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, text,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents),
      tri AS (SELECT doc_id, unnest(list_transform(
            generate_series(1, len(t) - 2),
            i -> array_to_string(t[i:i+2], ' '))) AS g
        FROM toks WHERE len(t) >= 3),
      cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM tri GROUP BY 1, 2),
      rep AS (SELECT doc_id,
          ROUND(CAST(max(c) AS DOUBLE) / sum(c), 6) AS rep_ratio
        FROM cnt GROUP BY 1),
      sig AS (SELECT doc_id, text, len(t) AS n_tok,
          CASE WHEN (CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t,
            x -> list_contains(['the','a','of','and','to','in','is'], x)))
            AS DOUBLE) / CAST(len(t) AS DOUBLE) ELSE 0.0 END) > 0.02
            THEN 'en' ELSE 'unk' END AS lang
        FROM toks),
      kept AS (SELECT s.doc_id, s.text, s.n_tok
        FROM sig s LEFT JOIN rep r ON s.doc_id = r.doc_id
        WHERE s.n_tok >= 20 AND s.lang <> 'unk'
          AND COALESCE(r.rep_ratio, 0.0) <= 0.06),
      dd AS (SELECT MIN(doc_id) AS doc_id,
          CAST(MIN(n_tok) AS BIGINT) AS n_tokens
        FROM kept GROUP BY md5(text)),
      c AS (SELECT doc_id, n_tokens,
          CAST(SUM(n_tokens) OVER (
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM dd WHERE n_tokens > 0)
      SELECT doc_id, n_tokens, cum - n_tokens AS start_offset,
        (cum - n_tokens) // 512 AS first_example,
        (cum - 1) // 512 AS last_example,
        (cum - n_tokens) // 512 <> (cum - 1) // 512 AS straddles
      FROM c ORDER BY doc_id"""))

  /** Audio frame features ([[MultimodalOps.audioFrameFeatures]]): RMS
    * energy + zero-crossing rate per 16-sample frame over real WAV
    * payloads (alternating-sign fixture so ZCR is non-trivial). */
  private val qAudioFrames = QuerySpec(
    "q_audio_frames",
    (s, dir) => {
      import s.implicits._
      val wav = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val b = text.getBytes("UTF-8")
          require(b.length == text.length, s"non-ASCII text in doc $id")
          // alternate the sign so zero crossings actually occur
          (id, MultimodalOps.encodeWavPcm16(Array.tabulate[Short](64)(i =>
            (b(i % b.length) * (if (i % 2 == 1) -1 else 1)).toShort)))
        }
        .toDF("doc_id", "payload")
      MultimodalOps.audioFrameFeatures(wav, "doc_id", "payload",
          frameSize = 16)
        .orderBy("doc_id", "frame")
    },
    Some("""WITH s AS (SELECT doc_id, i,
          (CASE WHEN i % 2 = 1 THEN -1 ELSE 1 END)
            * unicode(substr(text, (i % length(text)) + 1, 1)) AS v
        FROM documents, generate_series(0, 63) t(i)),
      f AS (SELECT doc_id, i // 16 AS frame, v,
          lag(v) OVER (PARTITION BY doc_id, i // 16 ORDER BY i) AS pv
        FROM s)
      SELECT doc_id, CAST(frame AS BIGINT) AS frame,
        CAST(COUNT(*) AS BIGINT) AS n_samples,
        CAST(floor(sqrt(CAST(SUM(CAST(v AS BIGINT) * v) AS DOUBLE)
          / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT) AS rms_e6,
        CAST((SUM(CASE WHEN pv IS NOT NULL AND
            ((pv < 0 AND v >= 0) OR (pv >= 0 AND v < 0)) THEN 1 ELSE 0 END)
          * 1000000) // (COUNT(*) - 1) AS BIGINT) AS zcr_e6
      FROM f GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Scene-change detection ([[MultimodalOps.frameDiffs]]): consecutive-
    * frame mean absolute difference over real 6-frame GIFs; oracle
    * replays the pixel arithmetic over the same char codes. */
  private val qFrameDiffs = QuerySpec(
    "q_frame_diffs",
    (s, dir) => {
      import s.implicits._
      val gif = core.Graft.rebalanceForCompute(t(s, dir, "documents"))
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val b = text.getBytes("UTF-8")
          require(b.length == text.length, s"non-ASCII text in doc $id")
          val frames = (0 until 6).map(f =>
            Array.tabulate[Byte](64)(i => b((f * 64 + i) % b.length)))
          (id, MultimodalOps.encodeGifFrames(frames, 8, 8))
        }
        .toDF("doc_id", "payload")
      MultimodalOps.frameDiffs(gif, "doc_id", "payload")
        .orderBy("doc_id", "frame_pair")
    },
    Some("""SELECT doc_id, CAST(f AS BIGINT) AS frame_pair,
        CAST(64 AS BIGINT) AS n_px,
        CAST(SUM(abs(
          unicode(substr(text, ((f * 64 + i) % length(text)) + 1, 1))
          - unicode(substr(text, (((f - 1) * 64 + i) % length(text)) + 1, 1))
        )) * 1000000 // 64 AS BIGINT) AS mad_e6
      FROM documents, generate_series(1, 5) tf(f),
        generate_series(0, 63) ti(i)
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Seasonal-naive error ([[StatsOps.seasonalNaiveError]]): hourly
    * buckets predicted by the same hour yesterday, MAE per type. */
  private val qSeasonalNaive = QuerySpec(
    "q_seasonal_naive",
    (s, dir) =>
      StatsOps.seasonalNaiveError(t(s, dir, "events"), col("event_type"),
          unix_micros(col("ts")), col("value"),
          bucketUs = 3600L * 1000000L, season = 24)
        .orderBy("k"),
    Some("""WITH b AS (SELECT event_type AS k,
          CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 3600000000) AS BIGINT)
            AS bk,
          SUM(CAST(value AS DECIMAL(18,6))) AS sv
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        GROUP BY 1, 2),
      l AS (SELECT k, sv,
          lag(sv, 24) OVER (PARTITION BY k ORDER BY bk) AS pred
        FROM b)
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n_scored,
        CAST(floor(CAST(SUM(CAST(abs(CAST((sv - pred) AS DOUBLE)
            * 1000000.0) AS BIGINT)) AS DOUBLE) / COUNT(*) + 0.5)
          AS BIGINT) AS mae_e6
      FROM l WHERE pred IS NOT NULL GROUP BY 1 ORDER BY 1"""))

  /** WOE encoding ([[StatsOps.woeEncode]]): event types scored against
    * the high-value outcome, smoothed log-odds + information value. */
  private val qWoe = QuerySpec(
    "q_woe",
    (s, dir) =>
      StatsOps.woeEncode(t(s, dir, "events"), col("event_type"),
          col("value") > 50.0)
        .orderBy("cat"),
    Some("""WITH b AS (SELECT event_type AS cat, (value > 50.0) AS p
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
      c AS (SELECT cat,
          CAST(SUM(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
          CAST(SUM(CASE WHEN NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
        FROM b GROUP BY 1),
      t AS (SELECT CAST(SUM(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT)
            AS tp,
          CAST(SUM(CASE WHEN NOT p THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM b),
      e AS (SELECT cat, n_pos, n_neg,
          (n_pos + 0.5) / (tp + 0.5) AS ps,
          (n_neg + 0.5) / (tn + 0.5) AS ns
        FROM c, t)
      SELECT cat, n_pos, n_neg,
        CAST(floor(ln(ps / ns) * 1000000.0 + 0.5) AS BIGINT) AS woe_e6,
        CAST(floor((ps - ns) * ln(ps / ns) * 1000000.0 + 0.5) AS BIGINT)
          AS iv_e6
      FROM e ORDER BY cat"""))

  /** Wilson interval ([[StatsOps.wilsonInterval]]): 95% score bounds on
    * the high-value rate per event type. */
  private val qWilson = QuerySpec(
    "q_wilson",
    (s, dir) =>
      StatsOps.wilsonInterval(t(s, dir, "events"), Seq(col("event_type")),
          col("value") > 50.0)
        .orderBy("event_type"),
    Some("""WITH b AS (SELECT event_type, (value > 50.0) AS s
        FROM events WHERE value IS NOT NULL),
      c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS successes
        FROM b GROUP BY 1),
      e AS (SELECT event_type, n, successes,
          CAST(successes AS DOUBLE) / n AS p,
          1.0 + (1.96 * 1.96) / n AS den
        FROM c),
      f AS (SELECT *, (p + (1.96 * 1.96) / (n * 2.0)) / den AS ctr,
          1.96 * sqrt(p * (1.0 - p) / n + (1.96 * 1.96) / (4.0 * n * n))
            / den AS hw
        FROM e)
      SELECT event_type, n, successes,
        CAST(floor(p * 1000000.0 + 0.5) AS BIGINT) AS rate_e6,
        CAST(floor((ctr - hw) * 1000000.0 + 0.5) AS BIGINT) AS lo_e6,
        CAST(floor((ctr + hw) * 1000000.0 + 0.5) AS BIGINT) AS hi_e6
      FROM f ORDER BY 1"""))

  /** Personalized PageRank ([[GraphOps.personalizedPagerank]]): proximity
    * to the round-hundred part nodes over the co-purchase graph, 3
    * iterations, oracle-unrolled term for term. */
  private val qPersonalizedPagerank = QuerySpec(
    "q_personalized_pagerank",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val fwd = li.select(col("l_partkey").cast("long").as("src"),
        (lit(1000000000L) + col("l_suppkey")).cast("long").as("dst"))
      val back = li.filter(col("l_suppkey") % 2 === 0)
        .select((lit(1000000000L) + col("l_suppkey")).cast("long").as("src"),
          col("l_partkey").cast("long").as("dst"))
      val seeds = li.select(col("l_partkey").cast("long").as("id"))
        .filter(col("id") % 100 === 0).distinct()
      GraphOps.personalizedPagerank(fwd.union(back).distinct(), seeds,
          iters = 3)
        .select(col("id"),
          floor(col("r") * lit(1e9) + lit(0.5)).cast("long").as("rank_e9"))
        .orderBy("id")
    },
    Some("""WITH eg AS (
        SELECT DISTINCT l_partkey AS src, 1000000000 + l_suppkey AS dst FROM lineitem
        UNION
        SELECT DISTINCT 1000000000 + l_suppkey AS src, l_partkey AS dst
        FROM lineitem WHERE l_suppkey % 2 = 0),
      nodes AS (SELECT DISTINCT id
        FROM (SELECT src AS id FROM eg UNION ALL SELECT dst AS id FROM eg) u),
      sd AS (SELECT id FROM nodes WHERE id < 1000000000 AND id % 100 = 0),
      ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS s FROM sd),
      deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS c FROM eg GROUP BY 1),
      r0 AS (SELECT n.id, sd.id IS NOT NULL AS isseed,
          CASE WHEN sd.id IS NOT NULL THEN 1.0 / (SELECT s FROM ns)
            ELSE 0.0 END AS r
        FROM nodes n LEFT JOIN sd ON sd.id = n.id),
      d1 AS (SELECT COALESCE(SUM(CAST(floor(p.r * 1e15 + 0.5) AS BIGINT)), 0) AS dm
        FROM r0 p LEFT JOIN deg ON deg.src = p.id WHERE deg.src IS NULL),
      c1 AS (SELECT e.dst AS id,
          CAST(SUM(CAST(floor(p.r / d.c * 1e15 + 0.5) AS BIGINT)) AS DOUBLE) / 1e15 AS contrib
        FROM eg e JOIN r0 p ON e.src = p.id JOIN deg d ON d.src = e.src GROUP BY 1),
      r1 AS (SELECT n.id, n.isseed,
          (CASE WHEN n.isseed THEN (1.0 - 0.85) / (SELECT s FROM ns)
            ELSE 0.0 END)
          + 0.85 * (COALESCE(c.contrib, 0.0)
            + CASE WHEN n.isseed THEN
                (CAST((SELECT dm FROM d1) AS DOUBLE) / 1e15) / (SELECT s FROM ns)
              ELSE 0.0 END) AS r
        FROM r0 n LEFT JOIN c1 c ON n.id = c.id),
      d2 AS (SELECT COALESCE(SUM(CAST(floor(p.r * 1e15 + 0.5) AS BIGINT)), 0) AS dm
        FROM r1 p LEFT JOIN deg ON deg.src = p.id WHERE deg.src IS NULL),
      c2 AS (SELECT e.dst AS id,
          CAST(SUM(CAST(floor(p.r / d.c * 1e15 + 0.5) AS BIGINT)) AS DOUBLE) / 1e15 AS contrib
        FROM eg e JOIN r1 p ON e.src = p.id JOIN deg d ON d.src = e.src GROUP BY 1),
      r2 AS (SELECT n.id, n.isseed,
          (CASE WHEN n.isseed THEN (1.0 - 0.85) / (SELECT s FROM ns)
            ELSE 0.0 END)
          + 0.85 * (COALESCE(c.contrib, 0.0)
            + CASE WHEN n.isseed THEN
                (CAST((SELECT dm FROM d2) AS DOUBLE) / 1e15) / (SELECT s FROM ns)
              ELSE 0.0 END) AS r
        FROM r1 n LEFT JOIN c2 c ON n.id = c.id),
      d3 AS (SELECT COALESCE(SUM(CAST(floor(p.r * 1e15 + 0.5) AS BIGINT)), 0) AS dm
        FROM r2 p LEFT JOIN deg ON deg.src = p.id WHERE deg.src IS NULL),
      c3 AS (SELECT e.dst AS id,
          CAST(SUM(CAST(floor(p.r / d.c * 1e15 + 0.5) AS BIGINT)) AS DOUBLE) / 1e15 AS contrib
        FROM eg e JOIN r2 p ON e.src = p.id JOIN deg d ON d.src = e.src GROUP BY 1),
      r3 AS (SELECT n.id, n.isseed,
          (CASE WHEN n.isseed THEN (1.0 - 0.85) / (SELECT s FROM ns)
            ELSE 0.0 END)
          + 0.85 * (COALESCE(c.contrib, 0.0)
            + CASE WHEN n.isseed THEN
                (CAST((SELECT dm FROM d3) AS DOUBLE) / 1e15) / (SELECT s FROM ns)
              ELSE 0.0 END) AS r
        FROM r2 n LEFT JOIN c3 c ON n.id = c.id)
      SELECT id, CAST(floor(r * 1e9 + 0.5) AS BIGINT) AS rank_e9
      FROM r3 ORDER BY id"""))

  /** Class separation ([[SimilarityOps.classSeparation]]): per-label
    * cohesion (mean member→centroid cosine) and confusability (nearest
    * other centroid), all from exact decimal folds. */
  private val qClassSeparation = QuerySpec(
    "q_class_separation",
    (s, dir) =>
      SimilarityOps.classSeparation(t(s, dir, "embeddings"))
        .orderBy("label"),
    Some("""WITH cent AS (SELECT label, pos,
          CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,6))) AS DOUBLE)
            / COUNT(x) AS c
        FROM (SELECT label, unnest(embedding) AS x,
              CAST(unnest(generate_series(1, len(embedding))) AS BIGINT)
                AS pos
            FROM embeddings) u
        GROUP BY 1, 2),
      cn AS (SELECT label, SUM(CAST(c * c AS DECIMAL(38,12))) AS dc
        FROM cent GROUP BY 1),
      vx AS (SELECT label, vec_id AS rid,
          CAST(unnest(generate_series(1, len(embedding))) AS BIGINT) AS pos,
          CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings),
      pv AS (SELECT v.label, v.rid,
          SUM(CAST(v.x * ct.c AS DECIMAL(38,12))) AS dot,
          SUM(CAST(v.x * v.x AS DECIMAL(38,12))) AS dv
        FROM vx v JOIN cent ct ON ct.label = v.label AND ct.pos = v.pos
        GROUP BY 1, 2),
      pc AS (SELECT p.label,
          CAST(floor(CAST(dot AS DOUBLE)
            / (sqrt(CAST(dv AS DOUBLE)) * sqrt(CAST(cn.dc AS DOUBLE)))
            * 1000000.0 + 0.5) AS BIGINT) AS cos6
        FROM pv p JOIN cn ON cn.label = p.label),
      intra AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
          CAST(floor(CAST(SUM(cos6) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
            AS intra_cos_e6
        FROM pc GROUP BY 1),
      pairs AS (SELECT a.label AS la, b.label AS lb,
          SUM(CAST(a.c * b.c AS DECIMAL(38,12))) AS dab
        FROM cent a JOIN cent b ON a.pos = b.pos AND a.label <> b.label
        GROUP BY 1, 2),
      pcos AS (SELECT la, lb,
          CAST(floor(CAST(dab AS DOUBLE)
            / (sqrt(CAST(na.dc AS DOUBLE)) * sqrt(CAST(nb.dc AS DOUBLE)))
            * 1000000.0 + 0.5) AS BIGINT) AS pc6
        FROM pairs JOIN cn na ON na.label = la JOIN cn nb ON nb.label = lb),
      near AS (SELECT la AS label, lb AS nearest_label, pc6 AS inter_cos_e6,
          row_number() OVER (PARTITION BY la ORDER BY pc6 DESC, lb) AS rn
        FROM pcos)
      SELECT i.label, i.n_vecs, i.intra_cos_e6, n.nearest_label,
        n.inter_cos_e6
      FROM intra i LEFT JOIN near n ON n.label = i.label AND n.rn = 1
      ORDER BY i.label"""))

  /** Graph profile ([[GraphOps.graphProfile]]): one-row structural
    * summary with exact-decimal degree assortativity. */
  private val qGraphProfile = QuerySpec(
    "q_graph_profile",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val a = li.select(col("ok"), col("pk").as("src"))
      val b = li.select(col("ok").as("ok2"), col("pk").as("dst"))
      val edges = a.join(b, col("ok") === col("ok2") && col("src") < col("dst"))
        .select(col("src"), col("dst"))
      GraphOps.graphProfile(edges)
    },
    Some("""WITH e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
      d AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS dg
        FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) nn
        GROUP BY 1),
      ends AS (SELECT da.dg AS x, db.dg AS y
        FROM (SELECT u AS a, v AS b FROM e
          UNION ALL SELECT v AS a, u AS b FROM e) dd
        JOIN d da ON da.n = dd.a JOIN d db ON db.n = dd.b),
      m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
          CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
          CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
          CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
          CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
        FROM ends),
      c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e),
      nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
          CAST(MAX(dg) AS BIGINT) AS max_degree FROM d)
      SELECT n_nodes, n_edges, max_degree,
        CAST(floor(n_edges * 2.0 / n_nodes * 1000000.0 + 0.5) AS BIGINT)
          AS avg_degree_e6,
        CAST(floor((n * sxy - sx * sy)
          / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
          * 1000000.0 + 0.5) AS BIGINT) AS assortativity_e6
      FROM c, nd, m"""))

  /** Skew report ([[SkewOps.skewReport]]): per-key concentration summary
    * of lineitem order keys — the salting decision's evidence. */
  private val qSkewReport = QuerySpec(
    "q_skew_report",
    (s, dir) =>
      SkewOps.skewReport(t(s, dir, "lineitem"), col("l_orderkey")),
    Some("""WITH c AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
      r AS (SELECT c, row_number() OVER (ORDER BY c) AS rn,
          COUNT(*) OVER () AS nk FROM c),
      p AS (SELECT c AS p99_count FROM r
        WHERE rn = CAST(ceil(nk * 0.99) AS BIGINT)),
      t AS (SELECT CAST(k AS VARCHAR) AS top_key, c AS max_count
        FROM (SELECT k, c,
            row_number() OVER (ORDER BY c DESC, k) AS rr FROM c) z
        WHERE rr = 1),
      s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
          CAST(SUM(c) AS BIGINT) AS n_rows FROM c)
      SELECT n_keys, n_rows, max_count, p99_count, top_key,
        CAST(floor(CAST(max_count AS DOUBLE) / n_rows * 1000000.0 + 0.5)
          AS BIGINT) AS max_share_e6
      FROM s, t, p"""))

  /** Join-size estimate ([[SkewOps.joinSizeEstimate]]): exact orders ⋈
    * lineitem cardinality from the key tables alone. */
  private val qJoinSize = QuerySpec(
    "q_join_size",
    (s, dir) =>
      SkewOps.joinSizeEstimate(t(s, dir, "orders"), col("o_orderkey"),
          t(s, dir, "lineitem"), col("l_orderkey")),
    Some("""WITH ca AS (SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT)
          AS ca FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
      cb AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cb
        FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1)
      SELECT CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT) AS join_rows,
        CAST(COUNT(*) AS BIGINT) AS n_matching_keys,
        CAST(COALESCE(MAX(ca * cb), 0) AS BIGINT) AS max_key_product
      FROM ca JOIN cb ON ca.k = cb.k"""))

  /** Streaming anomaly counting ([[graft.streaming.StreamOps.anomalyCounts]]):
    * a REAL 3-batch mapGroupsWithState run — O(1) integer state per key,
    * each event tested against the all-history baseline BEFORE folding,
    * exact BigInt z² test. The oracle replays the identical flags as
    * prefix sums over the (batch, id) order in HUGEINT. */
  private val qStreamAnomaly = QuerySpec(
    "q_stream_anomaly",
    (s, dir) => {
      import s.implicits._
      val srcDir = java.nio.file.Paths.get(Graft.scratch(dir, "anom_src"))
      val outDir = Graft.scratch(dir, "anom_out")
      val ckpt = Graft.scratch(dir, "anom_ckpt")
      Seq(outDir, ckpt).foreach(rmTreeQ)
      val feed = s.readStream
        .schema("event_type STRING, event_id BIGINT, value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
        .select(col("event_type").as("key"), col("event_id").as("id"),
          floor(col("value") * 1e3 + 0.5).cast("long").as("valueE3"))
        .as[graft.streaming.StreamOps.AnomEvent]
      val updates = graft.streaming.StreamOps.anomalyCounts(feed,
        minPrior = 20L, threshold = 3L)
      runAvailableNow(s, updates.toDF().writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            batch.coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/batch_$id")
            ()
        }
        .outputMode("update")
        .option("checkpointLocation", ckpt))
      val batchDirs = new java.io.File(outDir).listFiles()
        .filter(_.getName.startsWith("batch_")).map(_.toString).sorted.toSeq
      // per key: the LAST cumulative state (max events-seen row)
      s.read.parquet(batchDirs: _*)
        .groupBy(col("key").as("event_type"))
        .agg(max(col("nSeen")).as("n_seen"),
          max(col("nScored")).as("n_scored"),
          max(col("nFlagged")).as("n_flagged"))
        .orderBy("event_type")
    },
    Some("""WITH b AS (SELECT event_type AS k, event_id AS id,
          CAST(floor(CAST(value AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS x,
          CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
            AS BIGINT) % 3 AS bk
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
          AND event_id IS NOT NULL),
      w AS (SELECT k, x,
          COUNT(*) OVER wp AS n, SUM(x) OVER wp AS s, SUM(x * x) OVER wp AS ss
        FROM b WINDOW wp AS (PARTITION BY k ORDER BY bk, id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      f AS (SELECT k,
          CASE WHEN n >= 20 THEN 1 ELSE 0 END AS sc,
          CASE WHEN n >= 20
            AND (CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s) > 0
            AND CAST(x * n - s AS HUGEINT) * (x * n - s) * (n - 1)
              > 9 * CAST(n AS HUGEINT)
                * (CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)
          THEN 1 ELSE 0 END AS fl
        FROM w)
      SELECT k AS event_type, CAST(COUNT(*) AS BIGINT) AS n_seen,
        CAST(SUM(sc) AS BIGINT) AS n_scored,
        CAST(SUM(fl) AS BIGINT) AS n_flagged
      FROM f GROUP BY 1 ORDER BY 1"""),
    stage = Some((s, dir) => {
      val srcDir = java.nio.file.Paths.get(Graft.scratch(dir, "anom_src"))
      stageSplitDir(srcDir) { put =>
        val ev = t(s, dir, "events")
          .filter(col("value").isNotNull && col("event_type").isNotNull &&
            col("event_id").isNotNull)
          .select(col("event_type"), col("event_id"), col("value"))
        (0 until 3).foreach { b =>
          put(ev.filter(TextFunctions.portableBucket(col("event_id"), 3) === b),
            s"split_$b.parquet", 1700000000000L + b * 60000L)
        }
      }
    }))

  /** Ratio-to-parent ([[AnalyticsOps.shareOfTotal]]): revenue share of
    * each (returnflag, linestatus) cell within flag and overall. */
  private val qShareOfTotal = QuerySpec(
    "q_share_of_total",
    (s, dir) =>
      AnalyticsOps.shareOfTotal(t(s, dir, "lineitem"), col("l_returnflag"),
          col("l_linestatus"), col("l_extendedprice"))
        .orderBy("parent", "child"),
    Some("""WITH c AS (SELECT l_returnflag AS parent,
          l_linestatus AS child,
          SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS t
        FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2),
      w AS (SELECT parent, child, t,
          SUM(t) OVER (PARTITION BY parent) AS pt, SUM(t) OVER () AS gt
        FROM c)
      SELECT parent, child, round(CAST(t AS DOUBLE), 6) AS total,
        CAST(floor(CAST(t AS DOUBLE) / CAST(pt AS DOUBLE) * 1000000.0
          + 0.5) AS BIGINT) AS parent_share_e6,
        CAST(floor(CAST(t AS DOUBLE) / CAST(gt AS DOUBLE) * 1000000.0
          + 0.5) AS BIGINT) AS grand_share_e6
      FROM w ORDER BY 1, 2"""))

  /** Burstiness ([[AnalyticsOps.burstiness]]): inter-event-gap B index
    * per event type over per-user histories. */
  private val qBurstiness = QuerySpec(
    "q_burstiness",
    (s, dir) =>
      AnalyticsOps.burstiness(t(s, dir, "events"), col("event_type"),
          col("user_id"), unix_micros(col("ts")), col("event_id"))
        .orderBy("g"),
    Some("""WITH b AS (SELECT event_type AS g, user_id AS u,
          epoch_us(ts) AS t, event_id AS id
        FROM events WHERE ts IS NOT NULL),
      l AS (SELECT g,
          t - lag(t) OVER (PARTITION BY g, u ORDER BY t, id) AS gap
        FROM b),
      a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_gaps,
          SUM(CAST(gap AS DECIMAL(38,0))) AS s,
          SUM(CAST(CAST(gap AS DECIMAL(38,0)) * gap AS DECIMAL(38,0))) AS ss
        FROM l WHERE gap IS NOT NULL GROUP BY 1),
      m AS (SELECT g, n_gaps, CAST(s AS DOUBLE) / n_gaps AS mu,
          sqrt((CAST(ss AS DOUBLE)
            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_gaps)
            / (n_gaps - 1)) AS sd
        FROM a WHERE n_gaps >= 2)
      SELECT g, n_gaps, CAST(floor(mu + 0.5) AS BIGINT) AS mean_gap_us,
        CAST(floor(sd / mu * 1000000.0 + 0.5) AS BIGINT) AS cv_e6,
        CAST(floor((sd - mu) / (sd + mu) * 1000000.0 + 0.5) AS BIGINT)
          AS burstiness_e6
      FROM m ORDER BY 1"""))

  /** Cross-corpus near-dup ([[DedupOps.crossDedupPairs]]): documents vs
    * an offset-id third of itself — every planted duplicate must surface
    * at jaccard 1.0 plus the natural near-dups; candidates come only
    * from the A×B band join. */
  private val qCrossDedup = QuerySpec(
    "q_cross_dedup",
    (s, dir) => {
      val a = t(s, dir, "documents")
      val b = a.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      DedupOps.crossDedupPairs(a, col("doc_id"), col("text"),
          b, col("doc_id"), col("text"),
          shingleSize = 5, bands = 4, rowsPerBand = 2, minJaccard = 0.2)
        .orderBy("a", "b")
    },
    Some("""WITH da AS (
        SELECT doc_id, list_distinct(list_transform(
            generate_series(1, len(toks) - 4),
            i -> array_to_string(toks[i:i+4], ' '))) AS shingles
        FROM (SELECT doc_id,
                list_filter(string_split_regex(text, '\s+'), x -> x <> '')
                  AS toks
              FROM documents) t
        WHERE len(toks) >= 5),
      db AS (SELECT doc_id + 10000 AS doc_id, shingles FROM da
        WHERE doc_id % 3 = 0),
      siga AS (SELECT doc_id, shingles,
          list_min(list_transform(shingles, s -> substr(md5(s), 1, 16))) AS mh0,
          list_min(list_transform(shingles, s -> substr(md5(s), 3, 16))) AS mh1,
          list_min(list_transform(shingles, s -> substr(md5(s), 5, 16))) AS mh2,
          list_min(list_transform(shingles, s -> substr(md5(s), 7, 16))) AS mh3,
          list_min(list_transform(shingles, s -> substr(md5(s), 9, 16))) AS mh4,
          list_min(list_transform(shingles, s -> substr(md5(s), 11, 16))) AS mh5,
          list_min(list_transform(shingles, s -> substr(md5(s), 13, 16))) AS mh6,
          list_min(list_transform(shingles, s -> substr(md5(s), 15, 16))) AS mh7
        FROM da),
      sigb AS (SELECT doc_id, shingles,
          list_min(list_transform(shingles, s -> substr(md5(s), 1, 16))) AS mh0,
          list_min(list_transform(shingles, s -> substr(md5(s), 3, 16))) AS mh1,
          list_min(list_transform(shingles, s -> substr(md5(s), 5, 16))) AS mh2,
          list_min(list_transform(shingles, s -> substr(md5(s), 7, 16))) AS mh3,
          list_min(list_transform(shingles, s -> substr(md5(s), 9, 16))) AS mh4,
          list_min(list_transform(shingles, s -> substr(md5(s), 11, 16))) AS mh5,
          list_min(list_transform(shingles, s -> substr(md5(s), 13, 16))) AS mh6,
          list_min(list_transform(shingles, s -> substr(md5(s), 15, 16))) AS mh7
        FROM db),
      bda AS (SELECT doc_id, b,
          CASE b WHEN 0 THEN mh0 || '|' || mh1 WHEN 1 THEN mh2 || '|' || mh3
                 WHEN 2 THEN mh4 || '|' || mh5 ELSE mh6 || '|' || mh7 END AS key
        FROM siga, range(4) r(b)),
      bdb AS (SELECT doc_id, b,
          CASE b WHEN 0 THEN mh0 || '|' || mh1 WHEN 1 THEN mh2 || '|' || mh3
                 WHEN 2 THEN mh4 || '|' || mh5 ELSE mh6 || '|' || mh7 END AS key
        FROM sigb, range(4) r(b)),
      pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bda x JOIN bdb y ON x.b = y.b AND x.key = y.key)
      SELECT a, b, jaccard FROM (
        SELECT p.a, p.b,
          ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
            / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6)
            AS jaccard
        FROM pairs p JOIN da sa ON p.a = sa.doc_id
                     JOIN db sb ON p.b = sb.doc_id) v
      WHERE jaccard >= 0.2 ORDER BY a, b"""))

  /** Tokenizer fertility: tokens-per-character per language — the
    * budget-planning ratio (how many tokens a TB of each language costs);
    * exact integer sums, 1e-6-quantized ratio. */
  private val qFertility = QuerySpec(
    "q_fertility",
    (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text")).cast("long"))
            .as("n_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .withColumn("tokens_per_char_e6",
          floor(col("n_tokens") * lit(1000000.0) / col("n_chars") + 0.5)
            .cast("long"))
        .orderBy("lang"),
    Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(len(list_filter(string_split_regex(text, '\s+'),
          x -> x <> ''))) AS BIGINT) AS n_tokens,
        CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        CAST(floor(SUM(len(list_filter(string_split_regex(text, '\s+'),
            x -> x <> ''))) * 1000000.0 / SUM(length(text)) + 0.5)
          AS BIGINT) AS tokens_per_char_e6
      FROM documents GROUP BY 1 ORDER BY 1"""))

  /** PII incidence audit: emails planted into every 10th doc, counted
    * per source with the redaction regex — the rate report a privacy
    * review starts from (the redact op removes; this MEASURES). */
  private val qPiiRate = QuerySpec(
    "q_pii_rate",
    (s, dir) =>
      t(s, dir, "documents")
        .withColumn("_tx",
          when(col("doc_id") % 10 === 0,
            concat(col("text"), lit(" contact: user"), col("doc_id"),
              lit("@example.com")))
            .otherwise(col("text")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(regexp_extract_all(col("_tx"),
            lit("\\S+@\\S+\\.\\S+"), lit(0))).cast("long")).as("n_emails"))
        .withColumn("rate_e6",
          floor(col("n_emails") * lit(1000000.0) / col("n_docs") + 0.5)
            .cast("long"))
        .orderBy("source"),
    Some("""WITH d AS (SELECT source,
          CASE WHEN doc_id % 10 = 0
            THEN text || ' contact: user' || doc_id || '@example.com'
            ELSE text END AS tx
        FROM documents)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(len(regexp_extract_all(tx, '\S+@\S+\.\S+'))) AS BIGINT)
          AS n_emails,
        CAST(floor(SUM(len(regexp_extract_all(tx, '\S+@\S+\.\S+')))
          * 1000000.0 / COUNT(*) + 0.5) AS BIGINT) AS rate_e6
      FROM d GROUP BY 1 ORDER BY 1"""))

  /** KS test ([[StatsOps.ksTest]]): even- vs odd-user value
    * distributions per event type, exact cross-product CDF gaps. */
  private val qKsTest = QuerySpec(
    "q_ks_test",
    (s, dir) =>
      StatsOps.ksTest(t(s, dir, "events"), Seq(col("event_type")),
          col("user_id") % 2 === 0, col("value"))
        .orderBy("event_type"),
    Some("""WITH b AS (SELECT event_type AS g, (user_id % 2 = 0) AS a,
          CAST(value AS DOUBLE) AS x
        FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
      w AS (SELECT g, x,
          SUM(CASE WHEN a THEN 1 ELSE 0 END) OVER wc AS ca,
          SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) OVER wc AS cb,
          SUM(CASE WHEN a THEN 1 ELSE 0 END) OVER wa AS na,
          SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) OVER wa AS nb
        FROM b WINDOW wc AS (PARTITION BY g ORDER BY x
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          wa AS (PARTITION BY g)),
      m AS (SELECT g, x, na, nb, abs(ca * nb - cb * na) AS gap,
          MAX(abs(ca * nb - cb * na)) OVER (PARTITION BY g) AS mx
        FROM w WHERE na > 0 AND nb > 0)
      SELECT g AS event_type, CAST(MAX(na) AS BIGINT) AS n_a,
        CAST(MAX(nb) AS BIGINT) AS n_b,
        CAST(floor(CAST(MAX(mx) AS DOUBLE)
          / (CAST(MAX(na) AS DOUBLE) * MAX(nb)) * 1000000.0 + 0.5)
          AS BIGINT) AS d_e6,
        MIN(x) AS at_value
      FROM m WHERE gap = mx GROUP BY 1 ORDER BY 1"""))

  /** Mutual information ([[StatsOps.mutualInformation]]): event_type vs
    * user-id bucket, per-cell quantized terms, one-row release. */
  private val qMutualInformation = QuerySpec(
    "q_mutual_information",
    (s, dir) =>
      StatsOps.mutualInformation(t(s, dir, "events"), col("event_type"),
          (col("user_id") % 10).cast("string")),
    Some("""WITH b AS (SELECT event_type AS x,
          CAST(user_id % 10 AS VARCHAR) AS y
        FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
      c AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cxy
        FROM b GROUP BY 1, 2),
      mx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cx FROM b GROUP BY 1),
      my AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS cy FROM b GROUP BY 1),
      t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
      e AS (SELECT n,
          CAST(floor(CAST(cxy AS DOUBLE)
            * ln(CAST(cxy AS DOUBLE) * n / (CAST(cx AS DOUBLE) * cy))
            * 1000000000000.0 + 0.5) AS BIGINT) AS te
        FROM c JOIN mx USING (x) JOIN my USING (y) CROSS JOIN t)
      SELECT CAST(MAX(n) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT)
          AS n_cells,
        CAST(floor(CAST(SUM(te) AS DOUBLE) / MAX(n) / 1000.0 + 0.5)
          AS BIGINT) AS mi_e9
      FROM e"""))

  /** HITS ([[GraphOps.hits]]): hub/authority scores over the directed
    * co-purchase graph, 2 iterations, oracle-unrolled half-step by
    * half-step in the same scaled-long arithmetic. */
  private val qHits = QuerySpec(
    "q_hits",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val fwd = li.select(col("l_partkey").cast("long").as("src"),
        (lit(1000000000L) + col("l_suppkey")).cast("long").as("dst"))
      val back = li.filter(col("l_suppkey") % 2 === 0)
        .select((lit(1000000000L) + col("l_suppkey")).cast("long").as("src"),
          col("l_partkey").cast("long").as("dst"))
      GraphOps.hits(fwd.union(back).distinct(), iters = 2)
        .orderBy("id")
    },
    Some("""WITH eg AS (
        SELECT DISTINCT l_partkey AS src, 1000000000 + l_suppkey AS dst FROM lineitem
        UNION
        SELECT DISTINCT 1000000000 + l_suppkey AS src, l_partkey AS dst
        FROM lineitem WHERE l_suppkey % 2 = 0),
      nodes AS (SELECT DISTINCT id
        FROM (SELECT src AS id FROM eg UNION ALL SELECT dst AS id FROM eg) u),
      a1r AS (SELECT dst AS id, SUM(CAST(1000000000000000 AS BIGINT)) AS raw
        FROM eg GROUP BY 1),
      a1 AS (SELECT n.id, COALESCE(CAST(floor(CAST(r.raw AS DOUBLE)
            / (SELECT MAX(raw) FROM a1r) * 1000000000000000.0 + 0.5)
          AS BIGINT), 0) AS a
        FROM nodes n LEFT JOIN a1r r ON r.id = n.id),
      h1r AS (SELECT e.src AS id, SUM(a1.a) AS raw
        FROM eg e JOIN a1 ON a1.id = e.dst GROUP BY 1),
      h1 AS (SELECT n.id, COALESCE(CAST(floor(CAST(r.raw AS DOUBLE)
            / (SELECT MAX(raw) FROM h1r) * 1000000000000000.0 + 0.5)
          AS BIGINT), 0) AS h
        FROM nodes n LEFT JOIN h1r r ON r.id = n.id),
      a2r AS (SELECT e.dst AS id, SUM(h1.h) AS raw
        FROM eg e JOIN h1 ON h1.id = e.src GROUP BY 1),
      a2 AS (SELECT n.id, COALESCE(CAST(floor(CAST(r.raw AS DOUBLE)
            / (SELECT MAX(raw) FROM a2r) * 1000000000000000.0 + 0.5)
          AS BIGINT), 0) AS a
        FROM nodes n LEFT JOIN a2r r ON r.id = n.id),
      h2r AS (SELECT e.src AS id, SUM(a2.a) AS raw
        FROM eg e JOIN a2 ON a2.id = e.dst GROUP BY 1),
      h2 AS (SELECT n.id, COALESCE(CAST(floor(CAST(r.raw AS DOUBLE)
            / (SELECT MAX(raw) FROM h2r) * 1000000000000000.0 + 0.5)
          AS BIGINT), 0) AS h
        FROM nodes n LEFT JOIN h2r r ON r.id = n.id)
      SELECT h2.id,
        CAST(floor(CAST(h2.h AS DOUBLE) / 1000000.0 + 0.5) AS BIGINT)
          AS hub_e9,
        CAST(floor(CAST(a2.a AS DOUBLE) / 1000000.0 + 0.5) AS BIGINT)
          AS auth_e9
      FROM h2 JOIN a2 ON a2.id = h2.id ORDER BY h2.id"""))

  /** TPC-H Q7 shape (volume shipping between two nations): the 5-way
    * join macro — lineitem through orders/supplier/customer out to TWO
    * nation dimension roles, revenue by (supp_nation, cust_nation, ship
    * year) for one nation pair in both directions. Both nation dims are
    * broadcast (25 rows); the fact-side joins stay equi-keyed shuffles
    * that AQE re-plans; the pair filter prunes AFTER the dims attach,
    * exactly the selectivity the optimizer must push through. */
  private val qTpchQ7 = QuerySpec(
    "q_tpch_q7",
    (s, dir) => {
      import AggOps.sumExact
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val su = t(s, dir, "supplier")
      val c = t(s, dir, "customer")
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("_snk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("_cnk"), col("n_name").as("cust_nation"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("_snk"))
        .join(broadcast(n2), col("c_nationkey") === col("_cnk"))
        .filter(
          (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
    Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(year(l_shipdate) AS BIGINT) AS l_year,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
          AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** TPC-H Q9 shape (product-type profit): parts selected by a substring
    * of p_name, profit per supplier nation and ship year. (Adapted: the
    * synthetic schema has no partsupp, so supply cost is proxied as
    * 0.6 × p_retailprice — the join/aggregate SHAPE, a name-LIKE part
    * filter feeding a 4-way fact join into a two-level group-by, is what
    * the macro exercises.) Part filter evaluates before the join so the
    * scan prunes; nation is broadcast. */
  private val qTpchQ9 = QuerySpec(
    "q_tpch_q9",
    (s, dir) => {
      import AggOps.sumExact
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part").filter(col("p_name").contains("gear"))
        .select(col("p_partkey"), col("p_retailprice"))
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      l.join(p, col("l_partkey") === col("p_partkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("l_shipdate")).cast("long").as("o_year"))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount"))
            - lit(0.6) * col("p_retailprice") * col("l_quantity"))
          .as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
    Some("""SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
            - 0.6 * p_retailprice * l_quantity
          AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
      FROM lineitem
      JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY 1, 2 ORDER BY 1, 2 DESC"""))

  /** TPC-H Q13 shape (customer order-count distribution): the double
    * aggregation over a LEFT OUTER join — customers with zero orders must
    * survive into the c_count=0 bucket, which an inner join silently
    * drops. First group-by is per-customer (shuffles on custkey), second
    * runs on the tiny count-histogram. */
  private val qTpchQ13 = QuerySpec(
    "q_tpch_q13",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
      FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        GROUP BY 1) t
      GROUP BY 1 ORDER BY custdist DESC, c_count DESC"""))

  /** TPC-H Q15 shape (top supplier): quarterly revenue per supplier, then
    * the argmax released by joining the revenue table against its own
    * 1-row MAX (broadcast crossJoin — never a window over all suppliers,
    * never a driver collect). Revenue folds through exact decimal so the
    * equality against the max is reproducible bit-for-bit in any engine. */
  private val qTpchQ15 = QuerySpec(
    "q_tpch_q15",
    (s, dir) => {
      import AggOps.sumExact
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-04-01")))
      val su = t(s, dir, "supplier")
      val rev = l.groupBy(col("l_suppkey"))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("_mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("_mx"))
        .join(su, col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy("s_suppkey")
    },
    Some("""WITH rev AS (SELECT l_suppkey,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
            AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY 1)
      SELECT s_suppkey, s_name, total_revenue
      FROM rev JOIN supplier ON s_suppkey = l_suppkey
      WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
      ORDER BY s_suppkey"""))

  /** TPC-H Q17 shape (small-quantity-order revenue): the correlated-
    * average macro — lines of one brand whose quantity is under 20% of
    * that part's average quantity. The per-part average is a separate
    * aggregate joined back (aggregate-then-join-back, as in Q18), NOT a
    * window — the agg partial-combines map-side and the join-back key set
    * is only the brand's parts, which AQE broadcasts. The average is
    * exact-decimal-sum / count so the 20% threshold compares identically
    * across engines. */
  private val qTpchQ17 = QuerySpec(
    "q_tpch_q17",
    (s, dir) => {
      import AggOps.sumExact
      val pk = t(s, dir, "part").filter(col("p_brand") === "Brand#5")
        .select(col("p_partkey"))
      val lf = t(s, dir, "lineitem")
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      val avgq = lf.groupBy(col("l_partkey").as("_ap"))
        .agg((sumExact(col("l_quantity")) / count(lit(1)) * lit(0.2))
          .as("_qlim"))
      lf.join(avgq, col("l_partkey") === col("_ap"))
        .filter(col("l_quantity") < col("_qlim"))
        .agg(round(sumExact(col("l_extendedprice")) / lit(7.0), 6)
          .as("avg_yearly"))
    },
    Some("""WITH lf AS (SELECT l.* FROM lineitem l
        JOIN part ON p_partkey = l_partkey AND p_brand = 'Brand#5'),
      a AS (SELECT l_partkey AS ap,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
            / COUNT(*) * 0.2 AS qlim
        FROM lf GROUP BY 1)
      SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))
          AS DOUBLE) / 7.0, 6) AS avg_yearly
      FROM lf JOIN a ON ap = l_partkey WHERE l_quantity < qlim"""))

  /** TPC-H Q21 shape (suppliers who kept orders waiting): the EXISTS /
    * NOT-EXISTS macro — suppliers who were the ONLY late supplier on a
    * finished multi-supplier order. (Adapted: "late" = shipped >60 days
    * after the order date, as in [[qTpchQ4]].) Both correlated
    * subqueries become one left_semi (another supplier exists on the
    * order) and one left_anti (no OTHER late supplier) against
    * de-duplicated (order, supplier) sets — each an equi-keyed shuffle
    * join, no per-order windows, no cartesian. */
  private val qTpchQ21 = QuerySpec(
    "q_tpch_q21",
    (s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      val l = t(s, dir, "lineitem")
      val late = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val allSupp = l
        .select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
        .distinct()
      val su = t(s, dir, "supplier")
      late
        .join(allSupp, col("ok") === col("ok2") && col("sk") =!= col("sk2"),
          "left_semi")
        .join(late.select(col("ok").as("ok3"), col("sk").as("sk3")),
          col("ok") === col("ok3") && col("sk") =!= col("sk3"), "left_anti")
        .join(su, col("s_suppkey") === col("sk"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    },
    Some("""WITH late AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY),
      alls AS (SELECT DISTINCT l_orderkey AS ok2, l_suppkey AS sk2
        FROM lineitem)
      SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      FROM late JOIN supplier ON s_suppkey = late.sk
      WHERE EXISTS (SELECT 1 FROM alls
          WHERE ok2 = late.ok AND sk2 <> late.sk)
        AND NOT EXISTS (SELECT 1 FROM late l2
          WHERE l2.ok = late.ok AND l2.sk <> late.sk)
      GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100"""))

  /** TPC-H Q22 shape (global sales opportunity): above-average-balance
    * customers with no RECENT orders, grouped by a synthetic country
    * code. (Adapted: no phone column — cntrycode = c_nationkey mod 5;
    * and because every synthetic customer has at least one lifetime
    * order, "no orders" is scoped to the 2000+ window so the dormant
    * set — the query's whole point — is non-empty.) The
    * average-positive-balance scalar attaches as a broadcast 1-row
    * crossJoin (never a recomputed subquery per row), the dormancy
    * predicate is a left_anti on custkey against the date-filtered
    * orders, and the balance sum folds through exact decimal. */
  private val qTpchQ22 = QuerySpec(
    "q_tpch_q22",
    (s, dir) => {
      import AggOps.sumExact
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
      val thr = c.filter(col("c_acctbal") > lit(0.0))
        .agg((sumExact(col("c_acctbal")) / count(lit(1))).as("_avg"))
      c.crossJoin(broadcast(thr))
        .filter(col("c_acctbal") > col("_avg"))
        .join(o.select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(pmod(col("c_nationkey"), lit(5)).cast("long")
          .as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          sumExact(col("c_acctbal")).as("totacctbal"))
        .orderBy("cntrycode")
    },
    Some("""SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode,
        CAST(COUNT(*) AS BIGINT) AS numcust,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
      FROM customer
      WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6)))
            AS DOUBLE) / COUNT(*)
          FROM customer WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01')
      GROUP BY 1 ORDER BY 1"""))

  /** TPC-H Q8 shape (national market share): one supplier nation's
    * share of a region's PROMO-part revenue by order year — the 6-way
    * join with two nation roles and a conditional-share aggregate. Both
    * nation dims and the region broadcast; share is a ratio of exact
    * decimal sums so the release is engine-stable. */
  private val qTpchQ8 = QuerySpec(
    "q_tpch_q8",
    (s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val p = t(s, dir, "part").filter(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val nc = t(s, dir, "nation")
        .select(col("n_nationkey").as("_cnk"), col("n_regionkey"))
      val ns = t(s, dir, "nation")
        .select(col("n_nationkey").as("_snk"), col("n_name").as("supp_nation"))
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
        .select(col("r_regionkey"))
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nc), col("c_nationkey") === col("_cnk"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(ns), col("s_nationkey") === col("_snk"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_3", rev)
            .otherwise(lit(0.0)).cast("decimal(18,6)")).cast("double")
          / sum(rev.cast("decimal(18,6)")).cast("double"), 6)
          .as("mkt_share"))
        .orderBy("o_year")
    },
    Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        round(CAST(SUM(CAST(CASE WHEN ns.n_name = 'NATION_3'
            THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
            AS DECIMAL(18,6))) AS DOUBLE)
          / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
            AS DECIMAL(18,6))) AS DOUBLE), 6) AS mkt_share
      FROM lineitem
      JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation nc ON c_nationkey = nc.n_nationkey
      JOIN region ON nc.n_regionkey = r_regionkey AND r_name = 'ASIA'
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ns ON s_nationkey = ns.n_nationkey
      GROUP BY 1 ORDER BY 1"""))

  /** TPC-H Q16 shape (parts/supplier relationship): distinct supplier
    * counts per (brand, type, size band), one brand excluded. (Adapted:
    * no partsupp — the supplier relation derives from lineitem, which
    * is the same count-distinct-over-a-join shape.) */
  private val qTpchQ16 = QuerySpec(
    "q_tpch_q16",
    (s, dir) => {
      val p = t(s, dir, "part").filter(col("p_brand") =!= "Brand#1")
      val l = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
      p.join(l, col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"), col("p_type"),
          (floor(col("p_size") / 10) * 10).cast("long").as("size_band"))
        .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("size_band"))
    },
    Some("""SELECT p_brand, p_type,
        CAST(floor(p_size / 10) * 10 AS BIGINT) AS size_band,
        CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      FROM part JOIN lineitem ON p_partkey = l_partkey
      WHERE p_brand <> 'Brand#1'
      GROUP BY 1, 2, 3
      ORDER BY supplier_cnt DESC, p_brand, p_type, size_band"""))

  /** TPC-H Q2 shape (minimum-cost supplier): for each LARGE part, the
    * EUROPE supplier with the minimum observed unit price. (Adapted: no
    * partsupp — unit cost derives from lineitem as exact-decimal
    * Σprice/Σqty per (part, supplier), which keeps the correlated-min +
    * join-back shape the macro exists for.) The per-part minimum
    * attaches by equality join-back (the [[qTpchQ15]] argmin pattern);
    * ties keep every minimal supplier, exactly like the original. */
  private val qTpchQ2 = QuerySpec(
    "q_tpch_q2",
    (s, dir) => {
      import AggOps.sumExact
      val p = t(s, dir, "part").filter(col("p_type") === "LARGE")
        .select(col("p_partkey"), col("p_name"))
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").filter(col("r_name") === "EUROPE")
        .select(col("r_regionkey"))
      val eu = su.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
      val cost = t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(eu, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_partkey"), col("p_name"), col("s_name"),
          col("n_name"))
        .agg(round(sumExact(col("l_extendedprice"))
          / sumExact(col("l_quantity")), 6).as("unit_cost"))
      val minCost = cost.groupBy(col("p_partkey").as("_pk"))
        .agg(min(col("unit_cost")).as("_mc"))
      cost.join(minCost, col("p_partkey") === col("_pk") &&
          col("unit_cost") === col("_mc"))
        .select(col("p_partkey"), col("p_name"), col("s_name"),
          col("n_name"), col("unit_cost"))
        .orderBy("p_partkey", "s_name")
    },
    Some("""WITH eu AS (SELECT s_suppkey, s_name, n_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
      cost AS (SELECT p_partkey, p_name, s_name, n_name,
          round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))
              AS DOUBLE)
            / CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 6)
            AS unit_cost
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_type = 'LARGE'
        JOIN eu ON l_suppkey = s_suppkey
        GROUP BY 1, 2, 3, 4),
      mc AS (SELECT p_partkey AS pk, MIN(unit_cost) AS m
        FROM cost GROUP BY 1)
      SELECT p_partkey, p_name, s_name, n_name, unit_cost
      FROM cost JOIN mc ON p_partkey = pk AND unit_cost = m
      ORDER BY p_partkey, s_name"""))

  /** TPC-H Q11 shape (important stock): per-part revenue mass from one
    * region's suppliers, released where the part's value exceeds a
    * fraction of the regional total. (Adapted: value = lineitem revenue
    * instead of partsupp stock value — same group/HAVING-scalar shape.)
    * The threshold is a broadcast 1-row crossJoin over the part-value
    * table, never a re-aggregation per row. */
  private val qTpchQ11 = QuerySpec(
    "q_tpch_q11",
    (s, dir) => {
      import AggOps.sumExact
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
        .select(col("r_regionkey"))
      val asia = su.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"))
      val v = t(s, dir, "lineitem")
        .join(asia, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"))
        .agg(round(sumExact(col("l_extendedprice")
          * (lit(1) - col("l_discount"))), 6).as("value"))
      val thr = v.agg((sum(col("value").cast("decimal(18,6)"))
        .cast("double") * lit(0.001)).as("_thr"))
      v.crossJoin(broadcast(thr))
        .filter(col("value") > col("_thr"))
        .select(col("l_partkey"), col("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    },
    Some("""WITH asia AS (SELECT s_suppkey
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'),
      v AS (SELECT l_partkey,
          round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
            AS DECIMAL(18,6))) AS DOUBLE), 6) AS value
        FROM lineitem
        WHERE EXISTS (SELECT 1 FROM asia WHERE s_suppkey = l_suppkey)
        GROUP BY 1)
      SELECT l_partkey, value FROM v
      WHERE value > (SELECT CAST(SUM(CAST(value AS DECIMAL(18,6)))
          AS DOUBLE) * 0.001 FROM v)
      ORDER BY value DESC, l_partkey"""))

  /** TPC-H Q20 shape (excess-shipping suppliers): AMERICA suppliers who
    * moved more than 60 units of 'gear'-named parts in 1997 — the
    * nested-semi-join macro. (Adapted: shipped quantity from lineitem
    * stands in for partsupp availability; the supplier⟕nation release
    * and the HAVING-filtered inner aggregate keep the plan shape.) */
  private val qTpchQ20 = QuerySpec(
    "q_tpch_q20",
    (s, dir) => {
      import AggOps.sumExact
      val gear = t(s, dir, "part").filter(col("p_name").contains("gear"))
        .select(col("p_partkey"))
      val shipped = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .join(broadcast(gear), col("l_partkey") === col("p_partkey"),
          "left_semi")
        .groupBy(col("l_suppkey"))
        .agg(sumExact(col("l_quantity")).as("qty"))
        .filter(col("qty") > 60.0)
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").filter(col("r_name") === "AMERICA")
        .select(col("r_regionkey"))
      su.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .join(shipped, col("s_suppkey") === col("l_suppkey"))
        .select(col("s_name"), col("n_name"), col("qty"))
        .orderBy("s_name")
    },
    Some("""WITH shipped AS (SELECT l_suppkey,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey
            AND p_name LIKE '%gear%')
        GROUP BY 1 HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)))
          AS DOUBLE) > 60.0)
      SELECT s_name, n_name, qty
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey AND r_name = 'AMERICA'
      JOIN shipped ON s_suppkey = l_suppkey
      ORDER BY s_name"""))

  /** Spearman rank correlation ([[StatsOps.spearman]]): per return flag,
    * monotone association between quantity and extended price. */
  private val qSpearman = QuerySpec(
    "q_spearman",
    (s, dir) => StatsOps.spearman(t(s, dir, "lineitem"),
        Seq(col("l_returnflag")), col("l_quantity"), col("l_extendedprice"))
      .orderBy("l_returnflag"),
    Some("""WITH k AS (SELECT l_returnflag AS g,
          CAST(l_quantity AS DOUBLE) AS x,
          CAST(l_extendedprice AS DOUBLE) AS y
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
      r AS (SELECT g,
          2 * rank() OVER (PARTITION BY g ORDER BY x)
            + COUNT(*) OVER (PARTITION BY g, x) - 1 AS rx,
          2 * rank() OVER (PARTITION BY g ORDER BY y)
            + COUNT(*) OVER (PARTITION BY g, y) - 1 AS ry
        FROM k),
      a AS (SELECT g, COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
          SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy, SUM(rx * ry) AS sxy
        FROM r GROUP BY 1),
      m AS (SELECT g, n,
          CAST(n * sxy - sx * sy AS DOUBLE) AS covn,
          CAST(n * sxx - sx * sx AS DOUBLE) AS vx,
          CAST(n * syy - sy * sy AS DOUBLE) AS vy
        FROM a)
      SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
        CASE WHEN vx > 0 AND vy > 0
          THEN round(covn / sqrt(vx * vy), 6) END AS rho
      FROM m ORDER BY 1"""))

  /** One-way ANOVA ([[StatsOps.anovaF]]): does mean extended price
    * differ across return flags, within each line status. */
  private val qAnova = QuerySpec(
    "q_anova",
    (s, dir) => StatsOps.anovaF(t(s, dir, "lineitem"),
        Seq(col("l_linestatus")), col("l_returnflag"),
        col("l_extendedprice"))
      .orderBy("l_linestatus"),
    Some("""WITH k AS (SELECT l_linestatus AS g, l_returnflag AS c,
          CAST(l_extendedprice AS DOUBLE) AS x
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
      cj AS (SELECT g, c, CAST(COUNT(*) AS BIGINT) AS nj,
          CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sj,
          CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) AS qj
        FROM k GROUP BY 1, 2),
      t AS (SELECT g, nj,
          CAST(floor(sj * sj / nj * 100.0 + 0.5) AS BIGINT) AS bj,
          CAST(floor(qj * 100.0 + 0.5) AS BIGINT) AS qje,
          CAST(floor(sj * 100.0 + 0.5) AS BIGINT) AS sje
        FROM cj),
      a AS (SELECT g, CAST(SUM(nj) AS BIGINT) AS n,
          CAST(COUNT(*) AS BIGINT) AS k2, CAST(SUM(bj) AS BIGINT) AS b,
          CAST(SUM(qje) AS BIGINT) AS q, CAST(SUM(sje) AS BIGINT) AS s
        FROM t GROUP BY 1),
      f AS (SELECT g, n, k2,
          (CAST(b AS DOUBLE) - CAST(s AS DOUBLE) * s / 100.0 / n)
            / 100.0 AS ssb,
          CAST(q - b AS DOUBLE) / 100.0 AS ssw
        FROM a)
      SELECT g AS l_linestatus, n, k2 AS k,
        CASE WHEN k2 >= 2 AND n > k2 AND ssw > 0
          THEN CAST(floor((ssb / (k2 - 1)) / (ssw / (n - k2))
            * 1000000.0 + 0.5) AS BIGINT) END AS f_e6
      FROM f ORDER BY 1"""))

  /** Candidate-key profiling ([[QualityOps.keyProfile]]) over customer. */
  private val qKeyProfile = QuerySpec(
    "q_key_profile",
    (s, dir) => QualityOps.keyProfile(t(s, dir, "customer"),
      Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")),
    Some("""WITH p AS (
        SELECT 'c_custkey' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
          CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null FROM customer
        UNION ALL
        SELECT 'c_name', CAST(COUNT(*) AS BIGINT),
          CAST(COUNT(DISTINCT c_name) AS BIGINT),
          CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM customer
        UNION ALL
        SELECT 'c_nationkey', CAST(COUNT(*) AS BIGINT),
          CAST(COUNT(DISTINCT c_nationkey) AS BIGINT),
          CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) FROM customer
        UNION ALL
        SELECT 'c_mktsegment', CAST(COUNT(*) AS BIGINT),
          CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT),
          CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) FROM customer)
      SELECT "column", n_rows, n_distinct, n_null,
        CASE WHEN n_rows > n_null
          THEN CAST(floor(CAST(n_distinct AS DOUBLE) / (n_rows - n_null)
            * 1000000.0 + 0.5) AS BIGINT) END AS uniqueness_e6,
        (n_null = 0 AND n_distinct = n_rows) AS is_key
      FROM p ORDER BY "column""""))

  /** Functional-dependency audit ([[QualityOps.fdViolations]]): does
    * user_id determine event_type in the events stream (it should not —
    * the audit counts how badly). */
  private val qFdCheck = QuerySpec(
    "q_fd_check",
    (s, dir) => QualityOps.fdViolations(t(s, dir, "events"),
      Seq(col("user_id")), col("event_type")),
    Some("""WITH cells AS (SELECT user_id AS l,
          COALESCE(CAST(event_type AS VARCHAR), '<null>') AS r,
          COUNT(*) AS n
        FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
      pl AS (SELECT l, CAST(COUNT(*) AS BIGINT) AS imgs,
          CAST(SUM(n) AS BIGINT) AS rws
        FROM cells GROUP BY 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_lhs,
        CAST(SUM(CASE WHEN imgs > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_violating_lhs,
        CAST(SUM(CASE WHEN imgs > 1 THEN rws ELSE 0 END) AS BIGINT)
          AS n_rows_in_violations,
        CAST(MAX(imgs) AS BIGINT) AS max_rhs_per_lhs
      FROM pl"""))

  /** Zipf rank-frequency fit ([[CorpusOps.zipfFit]]) over documents. */
  private val qZipf = QuerySpec(
    "q_zipf",
    (s, dir) => CorpusOps.zipfFit(t(s, dir, "documents"), col("text"),
      minCount = 5),
    Some("""WITH counts AS (SELECT w, COUNT(*) AS cnt
        FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'),
          x -> x <> '')) AS w FROM documents) t
        GROUP BY 1 HAVING COUNT(*) >= 5),
      r AS (SELECT w, cnt,
          ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rnk FROM counts),
      q AS (SELECT cnt,
          CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000000.0 + 0.5)
            AS BIGINT) AS lx,
          CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000000.0 + 0.5)
            AS BIGINT) AS ly
        FROM r),
      m AS (SELECT COUNT(*) AS n, SUM(cnt) AS ntok, SUM(lx) AS sx,
          SUM(ly) AS sy, SUM(CAST(lx AS HUGEINT) * lx) AS sxx,
          SUM(CAST(lx AS HUGEINT) * ly) AS sxy
        FROM q),
      s AS (SELECT n, ntok, sx, sy,
          CAST(n * sxy - sx * sy AS DOUBLE) AS covn,
          CAST(n * sxx - sx * sx AS DOUBLE) AS vx
        FROM m)
      SELECT CAST(n AS BIGINT) AS n_types, CAST(ntok AS BIGINT) AS n_tokens,
        CAST(floor(covn / vx * 1000000.0 + 0.5) AS BIGINT) AS slope_e6,
        CAST(floor((CAST(sy AS DOUBLE) / 1000000000.0
            - covn / vx * (CAST(sx AS DOUBLE) / 1000000000.0))
          / n * 1000000.0 + 0.5) AS BIGINT) AS intercept_e6
      FROM s"""))

  /** Lexical-diversity stats ([[CorpusOps.lexicalStats]]) per document. */
  private val qLexical = QuerySpec(
    "q_lexical",
    (s, dir) => CorpusOps.lexicalStats(t(s, dir, "documents"),
      col("doc_id"), col("text")).orderBy("doc_id"),
    Some("""WITH toks AS (SELECT doc_id,
          unnest(list_filter(string_split_regex(text, '\s+'),
            x -> x <> '')) AS w
        FROM documents),
      tc AS (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      d AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
          CAST(COUNT(*) AS BIGINT) AS n_types,
          CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_hapax
        FROM tc GROUP BY 1)
      SELECT doc_id, n_tokens, n_types, n_hapax,
        CAST(floor(CAST(n_types AS DOUBLE) / n_tokens * 1000000.0 + 0.5)
          AS BIGINT) AS ttr_e6,
        CAST(floor(CAST(n_hapax AS DOUBLE) / n_types * 1000000.0 + 0.5)
          AS BIGINT) AS hapax_e6
      FROM d ORDER BY doc_id"""))

  /** Local clustering coefficient ([[GraphOps.clusteringCoefficient]])
    * on the co-purchase graph — same graph as [[qTriangles]], extended
    * to the per-node neighborhood-density release. */
  private val qClusteringCoeff = QuerySpec(
    "q_clustering_coeff",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val a = li.select(col("ok"), col("pk").as("src"))
      val b = li.select(col("ok").as("ok2"), col("pk").as("dst"))
      val edges = a.join(b, col("ok") === col("ok2") && col("src") < col("dst"))
        .select(col("src"), col("dst"))
      GraphOps.clusteringCoefficient(edges).orderBy("node")
    },
    Some("""WITH e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
      d AS (SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) t
        GROUP BY 1),
      tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1 JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      tn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
        FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri) nn
        GROUP BY 1)
      SELECT d.node, d.degree, COALESCE(tn.n_tri, 0) AS n_tri,
        CASE WHEN d.degree >= 2
          THEN CAST(floor(CAST(COALESCE(tn.n_tri, 0) AS DOUBLE) * 2.0
            / (d.degree * (d.degree - 1)) * 1000000.0 + 0.5) AS BIGINT)
          END AS cc_e6
      FROM d LEFT JOIN tn ON tn.node = d.node
      ORDER BY d.node"""))

  /** Holt linear smoothing ([[StatsOps.holtLinear]]) per user over the
    * events stream — final level/trend state and one-step forecast. The
    * oracle replays the identical left-fold as a recursive CTE (same
    * sort, same IEEE op order), cross-checking the sequential recurrence
    * bit-for-bit. (NOT list_reduce: DuckDB 1.0's struct-lambda evaluates
    * the second field against a partially-updated accumulator.) */
  private val qHolt = QuerySpec(
    "q_holt",
    (s, dir) => StatsOps.holtLinear(t(s, dir, "events"), col("user_id"),
        unix_micros(col("ts")), col("event_id"), col("value"),
        alpha = 0.3, beta = 0.1)
      .orderBy("k"),
    Some("""WITH RECURSIVE se AS (SELECT user_id AS k,
          CAST(value AS DOUBLE) AS x,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts), event_id, CAST(value AS DOUBLE)) AS rn
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL),
      nn AS (SELECT k, CAST(MAX(rn) AS BIGINT) AS n FROM se GROUP BY 1),
      rec AS (
        SELECT k, rn, x AS l, CAST(0.0 AS DOUBLE) AS b
        FROM se WHERE rn = 1
        UNION ALL
        SELECT se.k, se.rn,
          CAST(0.3 AS DOUBLE) * se.x
            + (1 - CAST(0.3 AS DOUBLE)) * (rec.l + rec.b),
          CAST(0.1 AS DOUBLE) * (CAST(0.3 AS DOUBLE) * se.x
              + (1 - CAST(0.3 AS DOUBLE)) * (rec.l + rec.b) - rec.l)
            + (1 - CAST(0.1 AS DOUBLE)) * rec.b
        FROM rec JOIN se ON se.k = rec.k AND se.rn = rec.rn + 1)
      SELECT rec.k, nn.n,
        CAST(floor(rec.l * 1000000.0 + 0.5) AS BIGINT) AS level_e6,
        CAST(floor(rec.b * 1000000.0 + 0.5) AS BIGINT) AS trend_e6,
        CAST(floor((rec.l + rec.b) * 1000000.0 + 0.5) AS BIGINT)
          AS forecast_e6
      FROM rec JOIN nn ON nn.k = rec.k AND rec.rn = nn.n
      ORDER BY rec.k"""))

  /** JL random projection ([[SimilarityOps.randomProjection]]) of the
    * embeddings table to 16 dims (1/√16 = 0.25, an exact binary scale). */
  private val qRandomProjection = QuerySpec(
    "q_random_projection",
    (s, dir) => SimilarityOps.randomProjection(t(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), inDim = 64, outDim = 16,
        seed = "jl")
      .orderBy("id", "dim"),
    Some("""SELECT vec_id AS id, CAST(j.j AS INTEGER) AS dim,
        CAST(floor(list_reduce(
          list_transform(generate_series(0, len(embedding) - 1),
            i -> CAST(embedding[i + 1] AS DOUBLE)
              * (CASE WHEN CAST('0x' || substr(md5('jl' || '|'
                    || CAST(i AS VARCHAR) || '|' || CAST(j.j AS VARCHAR)),
                    1, 1) AS BIGINT) % 2 = 0
                  THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)),
          (acc, x) -> acc + x) * 0.25 * 1000000.0 + 0.5) AS BIGINT)
          AS proj_e6
      FROM embeddings, generate_series(0, 15) j(j)
      WHERE embedding IS NOT NULL
      ORDER BY id, dim"""))

  /** k-core peel ([[GraphOps.kCore]]) on the co-purchase graph: 3 rounds
    * of k=3 peeling; the oracle unrolls exactly 3 rounds (a fixpoint is
    * stable under extra rounds, so Spark's early exit cannot diverge). */
  private val qKCore = QuerySpec(
    "q_k_core",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val a = li.select(col("ok"), col("pk").as("src"))
      val b = li.select(col("ok").as("ok2"), col("pk").as("dst"))
      val edges = a.join(b, col("ok") === col("ok2") && col("src") < col("dst"))
        .select(col("src"), col("dst"))
      GraphOps.kCore(edges, k = 3, rounds = 3).orderBy("n")
    },
    Some("""WITH e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
      dir AS (SELECT u AS n, v AS m FROM e UNION ALL SELECT v, u FROM e),
      n0 AS (SELECT DISTINCT n FROM dir),
      n1 AS (SELECT d.n FROM (SELECT x.n, COUNT(*) AS c FROM dir x
          JOIN n0 a ON a.n = x.n JOIN n0 b ON b.n = x.m GROUP BY 1) d
        WHERE d.c >= 3),
      n2 AS (SELECT d.n FROM (SELECT x.n, COUNT(*) AS c FROM dir x
          JOIN n1 a ON a.n = x.n JOIN n1 b ON b.n = x.m GROUP BY 1) d
        WHERE d.c >= 3),
      n3 AS (SELECT d.n FROM (SELECT x.n, COUNT(*) AS c FROM dir x
          JOIN n2 a ON a.n = x.n JOIN n2 b ON b.n = x.m GROUP BY 1) d
        WHERE d.c >= 3)
      SELECT x.n, CAST(COUNT(*) AS BIGINT) AS degree FROM dir x
      JOIN n3 a ON a.n = x.n JOIN n3 b ON b.n = x.m
      GROUP BY 1 ORDER BY 1"""))

  /** Rendezvous sharding ([[TextFunctions.rendezvousShard]]): customer
    * keys assigned under 8 and 9 shards side by side — the release
    * carries the `moved` flag whose ~1/9 rate is the minimal-motion
    * property mod-bucketing lacks. */
  private val qRendezvous = QuerySpec(
    "q_rendezvous",
    (s, dir) => t(s, dir, "customer")
      .select(col("c_custkey"),
        TextFunctions.rendezvousShard(col("c_custkey"), 8).as("shard8"),
        TextFunctions.rendezvousShard(col("c_custkey"), 9).as("shard9"))
      .withColumn("moved", col("shard8") =!= col("shard9"))
      .orderBy("c_custkey"),
    Some("""WITH s8 AS (SELECT c_custkey, CAST(s AS INTEGER) AS shard8
        FROM (SELECT c_custkey, j.s AS s, ROW_NUMBER() OVER (
            PARTITION BY c_custkey
            ORDER BY CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)
              || '|' || CAST(j.s AS VARCHAR)), 1, 15) AS BIGINT) DESC,
              j.s DESC) AS rn
          FROM customer, generate_series(0, 7) j(s)) t
        WHERE rn = 1),
      s9 AS (SELECT c_custkey, CAST(s AS INTEGER) AS shard9
        FROM (SELECT c_custkey, j.s AS s, ROW_NUMBER() OVER (
            PARTITION BY c_custkey
            ORDER BY CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)
              || '|' || CAST(j.s AS VARCHAR)), 1, 15) AS BIGINT) DESC,
              j.s DESC) AS rn
          FROM customer, generate_series(0, 8) j(s)) t
        WHERE rn = 1)
      SELECT s8.c_custkey, shard8, shard9, shard8 <> shard9 AS moved
      FROM s8 JOIN s9 ON s8.c_custkey = s9.c_custkey
      ORDER BY 1"""))

  /** Zone maps ([[QualityOps.zoneMaps]]): per-ship-month min/max/null
    * stats for the lineitem measures — the scan-pruning release. */
  private val qZoneMaps = QuerySpec(
    "q_zone_maps",
    (s, dir) => QualityOps.zoneMaps(t(s, dir, "lineitem"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
          .cast("long"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
      .orderBy("bucket", "column"),
    Some("""WITH b AS (SELECT CAST(year(l_shipdate) * 100
            + month(l_shipdate) AS BIGINT) AS bucket,
          CAST(l_quantity AS DOUBLE) AS q,
          CAST(l_extendedprice AS DOUBLE) AS p,
          CAST(l_discount AS DOUBLE) AS d
        FROM lineitem),
      g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
          MIN(q) AS mnq, MAX(q) AS mxq,
          CAST(SUM(CASE WHEN q IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS zq,
          MIN(p) AS mnp, MAX(p) AS mxp,
          CAST(SUM(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS zp,
          MIN(d) AS mnd, MAX(d) AS mxd,
          CAST(SUM(CASE WHEN d IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS zd
        FROM b GROUP BY 1)
      SELECT bucket, "column", n_rows, n_null, min_e6, max_e6 FROM (
        SELECT bucket, 'l_quantity' AS "column", n AS n_rows,
          zq AS n_null,
          CAST(floor(mnq * 1000000.0 + 0.5) AS BIGINT) AS min_e6,
          CAST(floor(mxq * 1000000.0 + 0.5) AS BIGINT) AS max_e6 FROM g
        UNION ALL
        SELECT bucket, 'l_extendedprice', n, zp,
          CAST(floor(mnp * 1000000.0 + 0.5) AS BIGINT),
          CAST(floor(mxp * 1000000.0 + 0.5) AS BIGINT) FROM g
        UNION ALL
        SELECT bucket, 'l_discount', n, zd,
          CAST(floor(mnd * 1000000.0 + 0.5) AS BIGINT),
          CAST(floor(mxd * 1000000.0 + 0.5) AS BIGINT) FROM g) u
      ORDER BY bucket, "column""""))

  /** SCD2 point-in-time snapshot ([[QualityOps.asOfSnapshot]]): the
    * user-state dimension rebuilt as of 2024-01-15, from the same
    * history as [[qScd2]]. */
  private val qScd2Asof = QuerySpec(
    "q_scd2_asof",
    (s, dir) => QualityOps.asOfSnapshot(
        QualityOps.scd2Build(t(s, dir, "events"), col("user_id"),
          unix_micros(col("ts")), col("event_id"), col("event_type")),
        lit(1705276800000000L))
      .orderBy("k", "valid_from", "value"),
    Some("""WITH b AS (SELECT user_id AS k, epoch_us(ts) AS t,
          event_id AS sq, event_type AS v
        FROM events WHERE ts IS NOT NULL),
      l AS (SELECT k, t, sq, v,
          lag(v) OVER w AS pv, row_number() OVER w AS rn
        FROM b WINDOW w AS (PARTITION BY k ORDER BY t, sq)),
      f AS (SELECT k, t, sq, v FROM l
        WHERE rn = 1 OR v IS DISTINCT FROM pv),
      o AS (SELECT k, v AS value, t AS valid_from,
          lead(t) OVER (PARTITION BY k ORDER BY t, sq) AS valid_to
        FROM f)
      SELECT k, value, valid_from, valid_to,
        valid_to IS NULL AS is_current
      FROM o
      WHERE valid_from <= 1705276800000000
        AND (valid_to IS NULL OR 1705276800000000 < valid_to)
      ORDER BY k, valid_from, value"""))

  /** Reciprocal nearest neighbors ([[SimilarityOps.reciprocalPairs]])
    * over the brute-force top-5 of the embeddings table — mutual pairs
    * only. */
  private val qReciprocalNn = QuerySpec(
    "q_reciprocal_nn",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.reciprocalPairs(
          SimilarityOps.cosineTopK(emb, emb, k = 5))
        .orderBy("a", "b")
    },
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
        FROM embeddings),
      scored AS (SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
          ROUND(list_dot_product(q.vec, c.vec) /
            (sqrt(list_dot_product(q.vec, q.vec))
              * sqrt(list_dot_product(c.vec, c.vec))), 6) AS sim
        FROM v q, v c WHERE q.vec_id <> c.vec_id),
      tk AS (SELECT query_id, nbr_id, sim, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rnk
        FROM scored),
      kf AS (SELECT * FROM tk WHERE rnk <= 5)
      SELECT f.query_id AS a, f.nbr_id AS b, f.sim AS sim_ab,
        CAST(f.rnk AS BIGINT) AS rank_ab, CAST(r.rnk AS BIGINT) AS rank_ba
      FROM kf f JOIN kf r
        ON r.query_id = f.nbr_id AND r.nbr_id = f.query_id
      WHERE f.query_id < f.nbr_id
      ORDER BY a, b"""))

  /** Inverted index ([[MapOps.invertedIndex]]) over documents, postings
    * capped at 20 docs per token (honest pre-cap document frequency). */
  private val qInvertedIndex = QuerySpec(
    "q_inverted_index",
    (s, dir) => MapOps.invertedIndex(t(s, dir, "documents"),
        col("doc_id"), col("text"), maxPostings = 20)
      .orderBy("token", "doc_id"),
    Some("""WITH tk AS (SELECT doc_id, e.w AS w, CAST(e.p AS BIGINT) AS p
        FROM (SELECT doc_id,
          unnest(list_transform(
            list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
            (x, i) -> struct_pack(w := x, p := i - 1))) AS e
        FROM documents) t),
      pr AS (SELECT w AS token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf,
          CAST(MIN(p) AS BIGINT) AS first_pos
        FROM tk GROUP BY 1, 2),
      dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df_docs
        FROM pr GROUP BY 1),
      cap AS (SELECT token, doc_id, tf, first_pos,
          ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id) AS rn
        FROM pr)
      SELECT cap.token, dfq.df_docs, cap.doc_id, cap.tf, cap.first_pos
      FROM cap JOIN dfq USING (token) WHERE rn <= 20
      ORDER BY token, doc_id"""))

  /** RFM quintile scoring ([[AnalyticsOps.rfmScores]]) over orders. */
  private val qRfm = QuerySpec(
    "q_rfm",
    (s, dir) => AnalyticsOps.rfmScores(t(s, dir, "orders"),
        col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")),
        col("o_totalprice"))
      .orderBy("k"),
    Some("""WITH a AS (SELECT o_custkey AS k,
          CAST(MAX(epoch_us(o_orderdate)) AS BIGINT) AS recency,
          CAST(COUNT(*) AS BIGINT) AS frequency,
          ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
            AS DOUBLE), 6) AS monetary
        FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM a),
      r AS (SELECT k,
          ROW_NUMBER() OVER (ORDER BY recency, k) AS rr,
          ROW_NUMBER() OVER (ORDER BY frequency, k) AS rf,
          ROW_NUMBER() OVER (ORDER BY monetary, k) AS rm
        FROM a)
      SELECT a.k, a.recency, a.frequency, a.monetary,
        CAST(floor((rr - 1) * 5 / nn) + 1 AS BIGINT) AS r,
        CAST(floor((rf - 1) * 5 / nn) + 1 AS BIGINT) AS f,
        CAST(floor((rm - 1) * 5 / nn) + 1 AS BIGINT) AS m,
        CAST((floor((rr - 1) * 5 / nn) + 1) * 100
          + (floor((rf - 1) * 5 / nn) + 1) * 10
          + (floor((rm - 1) * 5 / nn) + 1) AS BIGINT) AS rfm
      FROM a JOIN r USING (k) CROSS JOIN n ORDER BY k"""))

  /** Consecutive-day activity streaks ([[AnalyticsOps.streaks]]) per
    * user over the events stream. */
  private val qStreaks = QuerySpec(
    "q_streaks",
    (s, dir) => AnalyticsOps.streaks(t(s, dir, "events"), col("user_id"),
        floor(unix_micros(col("ts")) / lit(86400000000L)))
      .orderBy("k"),
    Some("""WITH d AS (SELECT DISTINCT user_id AS k,
          CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS d
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      i AS (SELECT k, d,
          d - ROW_NUMBER() OVER (PARTITION BY k ORDER BY d) AS isl
        FROM d),
      s AS (SELECT k, isl, CAST(COUNT(*) AS BIGINT) AS len,
          CAST(MIN(d) AS BIGINT) AS st
        FROM i GROUP BY 1, 2),
      rr AS (SELECT k, len, st, ROW_NUMBER() OVER (
          PARTITION BY k ORDER BY len DESC, st) AS rn
        FROM s)
      SELECT k, len AS longest_streak, st AS streak_start
      FROM rr WHERE rn = 1 ORDER BY k"""))

  /** Association rules ([[AnalyticsOps.associationRules]]) over order
    * baskets: support-pruned pair confidence and lift. */
  private val qAssocRules = QuerySpec(
    "q_assoc_rules",
    (s, dir) => AnalyticsOps.associationRules(t(s, dir, "lineitem"),
        col("l_orderkey"), col("l_partkey"), minSupport = 3L)
      .orderBy("a", "b"),
    Some("""WITH f AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        FROM lineitem),
      nb AS (SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS nbk FROM f),
      s AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS cnt FROM f
        GROUP BY 1 HAVING COUNT(*) >= 3),
      kept AS (SELECT f.* FROM f JOIN s USING (it)),
      p AS (SELECT a.it AS a, b.it AS b, CAST(COUNT(*) AS BIGINT)
            AS n_pair
        FROM kept a JOIN kept b ON a.bk = b.bk AND a.it < b.it
        GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      SELECT p.a, p.b, p.n_pair, sa.cnt AS n_a, sb.cnt AS n_b,
        CAST(floor(CAST(p.n_pair AS DOUBLE) / sa.cnt * 1000000.0 + 0.5)
          AS BIGINT) AS conf_ab_e6,
        CAST(floor(CAST(p.n_pair AS DOUBLE) / sb.cnt * 1000000.0 + 0.5)
          AS BIGINT) AS conf_ba_e6,
        CAST(floor(CAST(p.n_pair AS DOUBLE) * nb.nbk
          / (CAST(sa.cnt AS DOUBLE) * sb.cnt) * 1000000.0 + 0.5)
          AS BIGINT) AS lift_e6
      FROM p JOIN s sa ON sa.it = p.a JOIN s sb ON sb.it = p.b
      CROSS JOIN nb ORDER BY a, b"""))

  /** Modularity ([[GraphOps.modularity]]) of the brand partition over
    * the co-purchase graph — does brand structure show in baskets. */
  private val qModularity = QuerySpec(
    "q_modularity",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val a = li.select(col("ok"), col("pk").as("src"))
      val b = li.select(col("ok").as("ok2"), col("pk").as("dst"))
      val edges = a.join(b, col("ok") === col("ok2") && col("src") < col("dst"))
        .select(col("src"), col("dst"))
      val labels = t(s, dir, "part")
        .select(col("p_partkey").as("node"), col("p_brand").as("label"))
      GraphOps.modularity(edges, labels).orderBy("label")
    },
    Some("""WITH e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
      lab AS (SELECT p_partkey AS node, p_brand AS label FROM part),
      deg AS (SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) t
        GROUP BY 1),
      ds AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
          CAST(SUM(d) AS BIGINT) AS d_sum
        FROM deg JOIN lab USING (node) GROUP BY 1),
      ei AS (SELECT lu.label, CAST(COUNT(*) AS BIGINT) AS e_in FROM e
        JOIN lab lu ON lu.node = e.u JOIN lab lv ON lv.node = e.v
        WHERE lu.label = lv.label GROUP BY 1)
      SELECT ds.label, ds.n_nodes, COALESCE(ei.e_in, 0) AS e_in,
        ds.d_sum,
        CAST(floor((CAST(COALESCE(ei.e_in, 0) AS DOUBLE) / m.m
          - CAST(ds.d_sum AS DOUBLE) / (2 * m.m)
            * (CAST(ds.d_sum AS DOUBLE) / (2 * m.m)))
          * 1000000000.0 + 0.5) AS BIGINT) AS term_e9
      FROM ds LEFT JOIN ei USING (label) CROSS JOIN m
      ORDER BY label"""))

  /** Community detection by synchronous label propagation
    * ([[GraphOps.labelPropagation]], two rounds on the co-purchase
    * graph): deterministic by construction (smallest-label tie-break,
    * all-nodes-at-once rounds), so the oracle can replay both rounds
    * exactly — each as a neighbor-label vote with a
    * count-desc/label-asc argmax window. */
  private val qLabelProp = QuerySpec(
    "q_label_prop",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val a = li.select(col("ok"), col("pk").as("src"))
      val b = li.select(col("ok").as("ok2"), col("pk").as("dst"))
      val edges = a.join(b, col("ok") === col("ok2") && col("src") < col("dst"))
        .select(col("src"), col("dst"))
      GraphOps.labelPropagation(edges, iters = 2).orderBy("node")
    },
    Some("""WITH e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
      e AS (SELECT u AS node, v AS nb FROM e0
        UNION ALL SELECT v, u FROM e0),
      it1 AS (SELECT node, label FROM (
          SELECT e.node, l.label,
            ROW_NUMBER() OVER (PARTITION BY e.node
              ORDER BY COUNT(*) DESC, l.label ASC) AS rn
          FROM e JOIN (SELECT DISTINCT node, node AS label FROM e) l
            ON l.node = e.nb
          GROUP BY 1, 2) t WHERE rn = 1),
      it2 AS (SELECT node, label FROM (
          SELECT e.node, l.label,
            ROW_NUMBER() OVER (PARTITION BY e.node
              ORDER BY COUNT(*) DESC, l.label ASC) AS rn
          FROM e JOIN it1 l ON l.node = e.nb
          GROUP BY 1, 2) t WHERE rn = 1)
      SELECT node, label FROM it2 ORDER BY node"""))

  /** Per-group z-scores ([[StatsOps.zScores]]): every lineitem price
    * standardized against its return flag's exact-moment statistics. */
  private val qZscore = QuerySpec(
    "q_zscore",
    (s, dir) => StatsOps.zScores(t(s, dir, "lineitem"),
        Seq(col("l_returnflag")), col("l_orderkey"),
        col("l_extendedprice"))
      .orderBy("l_returnflag", "id", "x"),
    Some("""WITH k AS (SELECT l_returnflag AS g, l_orderkey AS id,
          CAST(l_extendedprice AS DOUBLE) AS x
        FROM lineitem WHERE l_extendedprice IS NOT NULL),
      s AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS s,
          CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) AS q
        FROM k GROUP BY 1),
      st AS (SELECT g, n, s / n AS mean,
          CASE WHEN n > 1 THEN (q - s * s / n) / (n - 1) END AS var
        FROM s)
      SELECT k.g AS l_returnflag, k.id, k.x,
        CASE WHEN var > 0 THEN CAST(floor((k.x - mean) / sqrt(var)
          * 1000000.0 + 0.5) AS BIGINT) END AS z_e6
      FROM k JOIN st USING (g) ORDER BY 1, 2, 3"""))

  /** K-fold target encoding ([[StatsOps.targetEncode]]): event types
    * encoded against the high-value outcome, leakage-controlled. */
  private val qTargetEncode = QuerySpec(
    "q_target_encode",
    (s, dir) => StatsOps.targetEncode(t(s, dir, "events"),
        col("event_type"), col("event_id"),
        (col("value") > 50.0).cast("double"), folds = 4, smoothing = 10.0)
      .orderBy("category", "fold"),
    Some("""WITH k AS (SELECT event_type AS category,
          CAST(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
            AS BIGINT) % 4 AS INTEGER) AS fold,
          CAST(CAST(value > 50.0 AS INTEGER) AS DOUBLE) AS y
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
      pf AS (SELECT category, fold, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sf
        FROM k GROUP BY 1, 2),
      pc AS (SELECT category, CAST(SUM(n) AS BIGINT) AS nc,
          CAST(SUM(CAST(floor(sf * 1000000.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sc
        FROM pf GROUP BY 1),
      pr AS (SELECT CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE)
          / COUNT(*) AS prior FROM k)
      SELECT pf.category, pf.fold, pf.n,
        CAST(floor((CAST(sc AS DOUBLE) / 1000000.0 - sf + prior * 10.0)
          / (nc - pf.n + 10.0) * 1000000.0 + 0.5) AS BIGINT) AS enc_e6
      FROM pf JOIN pc USING (category) CROSS JOIN pr
      ORDER BY category, fold"""))

  /** Systematic sampling ([[SortOps.systematicSample]]): every 100th
    * lineitem in full-row total order (TeraSort-rank, no global
    * window). */
  private val qSystematicSample = QuerySpec(
    "q_systematic_sample",
    (s, dir) => {
      val l = t(s, dir, "lineitem")
      SortOps.systematicSample(l, l.columns.toSeq.map(col), k = 100)
        .orderBy(l.columns.toSeq.map(col): _*)
    },
    Some("""SELECT * EXCLUDE (rn) FROM (SELECT *, ROW_NUMBER() OVER (
        ORDER BY l_orderkey, l_partkey, l_suppkey, l_linenumber,
          l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag,
          l_linestatus, l_shipdate) AS rn
      FROM lineitem) t
      WHERE (rn - 1) % 100 = 0
      ORDER BY l_orderkey, l_partkey, l_suppkey, l_linenumber,
        l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag,
        l_linestatus, l_shipdate"""))

  val all: Seq[QuerySpec] = Seq(
    q1Agg, qWordcount, qGrep, qInverse, qFieldsel, qMultiAgg, qHistogram,
    qWordstats, qSecondarySort, qWindowTopk, qSessionize, qTumblingWindow,
    qRollup, qJoinRevenue, qJoinOuter, qJoinOverride, qJoinSemi, qJoinAnti,
    qTaggedJoin, qSortTotal, qTopk, qKeyfieldSort, qSampleMod, qSampleMd5,
    qUnionTagged, qIntersect, qExcept, qPipeWc, qDedupExact, qDedupMinhash,
    qDedupIncrementalLsh,
    qSimhash, qNgramJaccard, qFingerprint, qTextQuality, qAnnCosine,
    qMultimodalMeta, qTeraValidate, qTeraGensort, qValueAgg, qJoinExpr, qCube,
    qSortedGroups, qSaltedAgg, qFixedWidth, qEventWindow,
    qMultimodalFeatures, qAnnLsh, qTextgenWc, qAsofJoin, qTokenCount,
    qDedupEmbedding, qAnnIvf, qAnnIvfInc, qWindowLag, qSessionWindow,
    qChain, qKvtextRoundtrip, qPartitionedSink, qDynamicOverwrite,
    qCompactRoundtrip,
    qStreamTumbling, qStreamRocksdb, qJdbcRoundtrip, qBucketedJoin, qNline, qStreamSessions,
    qPartitionerContract, qAutoSource, qStreamDedup, qSaltedJoin,
    qCounters, qUdafRegistry, qFrameSample, qResize, qResizePng,
    qWavFeatures, qFrameSampleGif, qResizeJpeg, qVideoKeyframes,
    qGramian, qBpePairs,
    qSqlNativeCosine,
    qStreamEtl, qHashSplit, qRepetition, qDedupClusters, qDedupClustersInc,
    qRedact,
    qRangeJoin, qGroupingSets, qTfidf, qEmbedCentroid, qXmlRecords,
    qNamedOutputs, qNamedOutputsAtomic, qQuasiPi, qNqueens,
    qWindowAnalytics, qBigramLm, qCodecRoundtrip, qCombineFiles,
    qApproxDistinct, qStreamStaticJoin, qStreamStreamJoin, qSimhashPairs,
    qKmeansStep, qCorpusFilter, qBucketLookup, qIvfRefined,
    qSlidingWindow, qPercentileExact, qJsonRoundtrip, qRangeJoinAuto,
    qDistcpSync, qDistcpDiff, qFsScheme, qExternalTable, qJdbcPartitioned,
    qPipeBinary,
    qSeqfileRoundtrip, qMapfileRead, qMapfileRoundtrip, qTfileRead,
    qBloomMapfileRead,
    qSeqfileTyped, qAvroRoundtrip, qAvroEvents, qOrcRoundtrip, qChunk,
    qContentChunks, qChunkDedup,
    qStratifiedSample, qVocab,
    qClassWeights, qDedupClustersStar, qAnnRecall, qApproxPercentile,
    qBloomJoin, qSurprisal, qCogroup, qStreamJdbc, qSniffFormat,
    qVideoRoute,
    qIncrementalDedup, qEquiDepth, qContamination,
    qCorpusMix, qTemperatureMix, qC4Clean, qGopherQuality, qCmsTokens,
    qTxlogCmsIvm, qPackSequences, qTokenBudget, qZorder,
    qPartitionPrune,
    qWinsorize, qDomainCap, qShardShuffle, qQuantizeInt8, qSqlMultijoin,
    qJsonExtract, qSchemaEvolution, qCsvPermissive, qRollingMedian,
    qStreamOuterJoin, qPivot, qUnpivot, qCorrelation, qDedupCanonical,
    qExpectations, qCdcApply, qBinaryFiles, qAnnInt8, qNormalize,
    qCsvQuoted, qGapFill, qPagerank, qPmi, qDistDrift, qParquetBloom,
    qFunnel, qRetention, qIntervalMerge, qTransitions,
    qFuzzyJoin, qJaroWinkler, qTriangles,
    qMadOutliers, qChiSquare, qTokenEntropy, qSkipgrams, qBm25,
    qWeightedSample, qGroupConcat, qProfile, qAttribution, qTimeWeighted,
    qSeasonal, qFunnelLag, qRepeatedSpans, qTableDiff, qAbTest, qAnnPq,
    qHeavyHitters, qImportanceWeights, qKAnonymity, qLDiversity,
    qTpchQ3, qTpchQ5, qTpchQ10, qSemanticDedup, qAnnIvfPq,
    qBfsHops, qRandomWalks, qTCloseness, qDpNoisyCounts, qHarLookup,
    qPipeTypedBytes, qKaplanMeier, qCms, qPseudonymize, qIncrementalAgg,
    qTpchQ1, qTpchQ6, qLinearTrend, qChecksumDiff, qImageHistogram,
    qHllMerge, qStreamIncremental, qStreamCdcAgg, qStreamLshDedup, qOhlc,
    qGini, qEwma, qAutocorr, qCusum, qCusumWide, qMannWhitney,
    qWeightedQuantile,
    qTpchQ4, qTpchQ12, qTpchQ14, qTpchQ18, qTpchQ19, qLinkPrediction,
    qContainment, qDpMean, qGeneralizeK, qTopPaths,
    qKmvDistinct, qRollingAnomaly, qMaxConcurrency, qEditDistance,
    qScd2, qBenford, qPerplexity, qNbClassify, qGoldenRecord, qFkAudit,
    qKmvOverlap,
    qMode, qTrimmedMean, qEventKgrams, qInterpolate, qCorpusPipeline,
    qAudioFrames, qFrameDiffs, qSeasonalNaive, qWoe, qWilson,
    qPersonalizedPagerank, qClassSeparation, qGraphProfile,
    qSkewReport, qJoinSize, qStreamAnomaly, qShareOfTotal, qBurstiness,
    qCrossDedup, qFertility, qPiiRate, qKsTest, qMutualInformation,
    qHits,
    qTpchQ7, qTpchQ9, qTpchQ13, qTpchQ15, qTpchQ17, qTpchQ21, qTpchQ22,
    qSpearman, qAnova, qKeyProfile, qFdCheck, qZipf, qLexical,
    qClusteringCoeff, qHolt, qRandomProjection,
    qKCore, qRendezvous, qZoneMaps, qScd2Asof, qReciprocalNn,
    qInvertedIndex, qRfm, qStreaks, qAssocRules,
    qModularity, qLabelProp, qZscore, qTargetEncode, qSystematicSample, qDhash,
    qOls2, qNelsonAalen, qPopDeltas, qQuantileTransform, qTxlogSnapshot,
    qTxlogIncremental, qTxlogPruned, qTxlogCompactDelta, qTxlogOptimize,
    qTxlogZorder, qTxlogZorder3, qTxlogRestore, qTxlogDelete, qTxlogMerge,
    qTxlogEvolve,
    qStreamTxlogMerge, qStreamForgetDv, qTxlogCdc, qTxlogTimeTravel,
    qTxlogRename, qTxlogMappedDml,
    qSqlMergeInto, qSqlTimeTravel, qSqlRowDml, qStreamTxlogSource,
    qSqlMaintenance, qStreamTxlogSink, qSqlMergeDelete, qTxlogConvert,
    qSqlAddColumn, qTxlogScanPrune, qTxlogCheckpointParquet,
    qSqlPartitioned, qSqlAnalyze,
    qSqlShowPartitions, qSqlOptimizePart, qSqlAutoStats, qSqlConstraint,
    qSqlRestoreClone, qSqlPartitioned2, qSqlPartAddColumn,
    qSqlDescribeDetail, qTxlogReplaceWhere, qSqlPartitionedDays,
    qSqlPartitionedMonths, qSqlPartitionedYears, qSqlPartitionedHours,
    qSqlPartitionedBucket, qSqlPartitionedTruncate,
    qSqlPartitionEvolution,
    qTxlogConstraints,
    qTxlogOptimizeInc, qTxlogBloomPrune, qTxlogForget, qTxlogForgetDv,
    qTxlogClone, qStreamRestart,
    qTxlogUpdate, qTxlogRowverbCdc, qTxlogPartitioned, qSpanExcision,
    qSssp, qTxlogIvm, qStreamTxlogCdc, qTxlogHistory, qTxlogDeleteDv,
    qTxlogUpdateDv, qTxlogDvCdc,
    qTopkNative, qJoinDelta, qJoinDeltaSigned, qStatsDeltaSigned, qTpchQ8,
    qTpchQ16, qTpchQ2, qTpchQ11,
    qTpchQ20)
}
