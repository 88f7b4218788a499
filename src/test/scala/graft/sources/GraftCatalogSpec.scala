package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Graft

/** The SQL surface end-to-end: every statement here is a `spark.sql`
  * STRING — the catalog ([[GraftCatalog]]) resolves names/DDL/time
  * travel, the extension rule ([[graft.plans.GraftSqlResolution]])
  * plans reads and row-level DML, and the V1 write fallback lands
  * INSERTs — all over the same [[TxLog]] verbs the Scala API gates. */
class GraftCatalogSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = TestSpark.tmpDir("graft-cat-wh").toString
  spark.conf.set("spark.sql.catalog.cat", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.cat.warehouse", wh)

  private def freshDir(): String =
    TestSpark.tmpDir("graft-cat-tbl").toString

  test("CREATE TABLE ... USING graft LOCATION mounts an existing txlog table") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
        .toDF("id", "tag", "v"), dir, "b0")))
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS cat.ext")
    spark.sql(s"CREATE TABLE cat.ext.t USING graft LOCATION '$dir'")
    val rows = spark.sql(
      "SELECT tag, count(*) AS n, sum(v) AS s FROM cat.ext.t " +
        "GROUP BY tag ORDER BY tag")
      .as[(String, Long, Double)].collect().toSeq
    assert(rows === Seq(("a", 2L, 40.0), ("b", 1L, 20.0)))
    // DROP of an EXTERNAL table removes the name, never the data
    spark.sql("DROP TABLE cat.ext.t")
    assert(TxLog.latestVersion(dir) === 1, "external data must survive DROP")
    intercept[Exception] { spark.sql("SELECT * FROM cat.ext.t").collect() }
  }

  test("managed table: CREATE + INSERT INTO + INSERT OVERWRITE + DROP") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.db")
    spark.sql("DROP TABLE IF EXISTS cat.db.m")
    spark.sql("CREATE TABLE cat.db.m (id BIGINT, v DOUBLE) USING graft")
    spark.sql("INSERT INTO cat.db.m VALUES (1, 1.5), (2, 2.5)")
    spark.sql("INSERT INTO cat.db.m SELECT 3, 3.5")
    assert(spark.sql("SELECT * FROM cat.db.m ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)))
    // each INSERT is one atomic commit → time travel between them
    assert(spark.sql("SELECT count(*) FROM cat.db.m VERSION AS OF 1")
      .as[Long].head() === 2L)
    spark.sql("INSERT OVERWRITE cat.db.m VALUES (9, 9.0)")
    assert(spark.sql("SELECT * FROM cat.db.m")
      .as[(Long, Double)].collect().toSeq === Seq((9L, 9.0)))
    // overwrite is an ordinary commit: the old content still time travels
    assert(spark.sql("SELECT count(*) FROM cat.db.m VERSION AS OF 2")
      .as[Long].head() === 3L)
    val loc = spark.sql("DESCRIBE TABLE EXTENDED cat.db.m")
      .filter($"col_name" === "Location").select("data_type")
      .as[String].head()
    spark.sql("DROP TABLE cat.db.m")
    assert(TxLog.latestVersion(loc.stripPrefix("file:")) === 0,
      "managed DROP must destroy the table directory")
  }

  test("DELETE / UPDATE / MERGE as plain SQL strings") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
        .toDF("id", "v"), dir, "b0")))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.dml")
    spark.sql("DROP TABLE IF EXISTS cat.dml.t")
    spark.sql(s"CREATE TABLE cat.dml.t USING graft LOCATION '$dir'")
    spark.sql("DELETE FROM cat.dml.t WHERE v > 35.0")
    assert(spark.sql("SELECT sum(v) FROM cat.dml.t").as[Double].head() === 60.0)
    spark.sql("UPDATE cat.dml.t SET v = v + 0.5 WHERE id = 2")
    assert(spark.sql("SELECT v FROM cat.dml.t WHERE id = 2")
      .as[Double].head() === 20.5)
    Seq((3L, 333.0), (5L, 50.0)).toDF("id", "v")
      .createOrReplaceTempView("mrg_src")
    spark.sql("""MERGE INTO cat.dml.t t USING mrg_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT * FROM cat.dml.t ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 10.0), (2L, 20.5), (3L, 333.0), (5L, 50.0)))
    // every verb was one commit; the pre-DML snapshot still serves
    assert(spark.sql("SELECT count(*) FROM cat.dml.t VERSION AS OF 1")
      .as[Long].head() === 4L)
    // the key-set delete shape: WHEN MATCHED THEN DELETE alone
    spark.sql("""MERGE INTO cat.dml.t t USING mrg_src s ON t.id = s.id
      WHEN MATCHED THEN DELETE""")
    assert(spark.sql("SELECT * FROM cat.dml.t ORDER BY id")
      .as[(Long, Double)].collect().toSeq === Seq((1L, 10.0), (2L, 20.5)),
      "matched keys must leave; unmatched source keys are ignored")
    // unsupported MERGE shapes fail loudly, not wrongly
    val e = intercept[Exception] {
      spark.sql("""MERGE INTO cat.dml.t t USING mrg_src s ON t.id = s.id
        WHEN MATCHED AND s.v > 0 THEN DELETE""")
    }
    assert(e.getMessage.contains("supported MERGE shape"))
    // subqueries in row-DML predicates are rejected with the rewrite hint
    val e2 = intercept[Exception] {
      spark.sql("DELETE FROM cat.dml.t WHERE id IN (SELECT id FROM mrg_src)")
    }
    assert(e2.getMessage.contains("subquery"))
    spark.sql("DROP TABLE cat.dml.t")
  }

  test("ALTER TABLE RENAME/DROP COLUMN are metadata-only; SQL DML follows the logical name") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, 10.0, "x"), (2L, 20.0, "y")).toDF("id", "v", "note"),
      dir, "b0")))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.sch")
    spark.sql("DROP TABLE IF EXISTS cat.sch.t")
    spark.sql(s"CREATE TABLE cat.sch.t USING graft LOCATION '$dir'")
    val filesBefore = TxLog.liveFiles(dir)
    spark.sql("ALTER TABLE cat.sch.t RENAME COLUMN v TO amount")
    spark.sql("ALTER TABLE cat.sch.t DROP COLUMN note")
    assert(TxLog.liveFiles(dir) === filesBefore,
      "schema verbs must not touch a single data file")
    assert(spark.sql("SELECT * FROM cat.sch.t").columns.toSeq ===
      Seq("id", "amount"))
    spark.sql("UPDATE cat.sch.t SET amount = amount * 2 WHERE id = 1")
    assert(spark.sql("SELECT amount FROM cat.sch.t ORDER BY id")
      .as[Double].collect().toSeq === Seq(20.0, 20.0))
    // the retired physical name is rejected from SQL too
    val e = intercept[Exception] {
      spark.sql("DELETE FROM cat.sch.t WHERE v > 0")
    }
    assert(e.getMessage.contains("logical"))
    // time travel across the rename serves the old schema
    assert(spark.sql("SELECT * FROM cat.sch.t VERSION AS OF 1")
      .columns.toSeq === Seq("id", "v", "note"))
    // INSERT after the rename lands by the NEW logical name (the V1
    // write fallback routes through the mapped writer)
    spark.sql("INSERT INTO cat.sch.t VALUES (3, 30.0)")
    assert(spark.sql("SELECT amount FROM cat.sch.t WHERE id = 3")
      .as[Double].head() === 30.0)
    spark.sql("DROP TABLE cat.sch.t")
  }

  test("ALTER TABLE ADD COLUMN is metadata-only; SQL UPDATE/INSERT fill it") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), dir, "b0")))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.addc")
    spark.sql("DROP TABLE IF EXISTS cat.addc.t")
    spark.sql(s"CREATE TABLE cat.addc.t USING graft LOCATION '$dir'")
    val filesBefore = TxLog.liveFiles(dir)
    spark.sql("ALTER TABLE cat.addc.t ADD COLUMN score DOUBLE")
    assert(TxLog.liveFiles(dir) === filesBefore,
      "ADD COLUMN must not touch a single data file")
    // pre-add rows null-fill under the typed column
    assert(spark.sql("SELECT * FROM cat.addc.t").columns.toSeq ===
      Seq("id", "tag", "score"))
    assert(spark.sql(
      "SELECT count(*) FROM cat.addc.t WHERE score IS NULL")
      .as[Long].head() === 2L)
    // SET the added column before any file carries it, then INSERT with it
    spark.sql("UPDATE cat.addc.t SET score = 9.5 WHERE id = 1")
    spark.sql("INSERT INTO cat.addc.t VALUES (3, 'c', 7.0)")
    assert(spark.sql("SELECT score FROM cat.addc.t ORDER BY id")
      .as[Option[Double]].collect().toSeq ===
      Seq(Some(9.5), None, Some(7.0)))
    // time travel BEFORE the add does not show the column
    assert(spark.sql("SELECT * FROM cat.addc.t VERSION AS OF 1")
      .columns.toSeq === Seq("id", "tag"))
    // unsupported shapes are rejected loudly, not silently narrowed
    intercept[Exception] {
      spark.sql("ALTER TABLE cat.addc.t ADD COLUMN p DOUBLE FIRST")
    }
    spark.sql("DROP TABLE cat.addc.t")
  }

  test("PARTITIONED BY: value-grain ingest, planning-time pruning, overwrite") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.pt")
    spark.sql("DROP TABLE IF EXISTS cat.pt.t")
    spark.sql("CREATE TABLE cat.pt.t (id BIGINT, tag STRING) USING graft " +
      "PARTITIONED BY (tag)")
    spark.sql("INSERT INTO cat.pt.t VALUES (1, 'a'), (2, 'b'), (3, 'c'), " +
      "(4, 'a')")
    // one leaf file per value; a point filter on the partition column
    // plans exactly one of them (bloom segment consulted at listFiles)
    val all = spark.sql("SELECT * FROM cat.pt.t")
    assert(Graft.plannedFiles(all) === 3)
    val one = spark.sql("SELECT id FROM cat.pt.t WHERE tag = 'a'")
    assert(Graft.plannedFiles(one) === 1,
      "a partition-value filter must plan exactly one leaf")
    assert(one.as[Long].collect().sorted.toSeq === Seq(1L, 4L))
    // IN-lists keep every candidate leaf, no more
    assert(Graft.plannedFiles(spark.sql(
      "SELECT * FROM cat.pt.t WHERE tag IN ('a', 'c')")) === 2)
    // a second INSERT adds new leaves; pruning still holds per commit
    spark.sql("INSERT INTO cat.pt.t VALUES (5, 'a')")
    val after = spark.sql("SELECT id FROM cat.pt.t WHERE tag = 'a'")
    assert(Graft.plannedFiles(after) === 2)
    assert(after.as[Long].collect().sorted.toSeq === Seq(1L, 4L, 5L))
    // INSERT OVERWRITE replaces atomically, keeping the value grain
    spark.sql("INSERT OVERWRITE cat.pt.t VALUES (9, 'z'), (10, 'y')")
    assert(spark.sql("SELECT * FROM cat.pt.t").count() === 2)
    assert(Graft.plannedFiles(spark.sql(
      "SELECT * FROM cat.pt.t WHERE tag = 'z'")) === 1)
    // pre-overwrite content still time travels
    assert(spark.sql("SELECT count(*) FROM cat.pt.t VERSION AS OF 2")
      .as[Long].head() === 5L)
    // schema verbs are refused on a partitioned table (the ingest
    // writes storage under declared names; a mapping would break it)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE cat.pt.t RENAME COLUMN id TO key")
    }
    assert(e.getMessage.contains("PARTITIONED"))
    // unknown transforms are rejected loudly at CREATE
    // (days/months/years/hours, bucket(n, col), and truncate(w, col)
    // are supported — see the dedicated tests below)
    intercept[Exception] {
      spark.sql("CREATE TABLE cat.pt.bad (id BIGINT, s STRING) " +
        "USING graft PARTITIONED BY (foo(s))")
    }
    // SHOW PARTITIONS reads the live values off the manifest dirnames
    assert(spark.sql("SHOW PARTITIONS cat.pt.t")
      .as[String].collect().toSeq === Seq("tag=y", "tag=z"))
    // ... and on a non-partitioned table fails loudly
    spark.sql("DROP TABLE IF EXISTS cat.pt.flat")
    spark.sql("CREATE TABLE cat.pt.flat (id BIGINT) USING graft")
    spark.sql("INSERT INTO cat.pt.flat VALUES (1)")
    val sp = intercept[Exception] {
      spark.sql("SHOW PARTITIONS cat.pt.flat").collect()
    }
    assert(sp.getMessage.contains("not a partitioned table"))
    spark.sql("DROP TABLE cat.pt.flat")
    // a row-level DELETE rewrites a leaf (losing the __pv dirname), so
    // SHOW PARTITIONS falls back to the exact distinct scan: the
    // emptied value disappears instead of lingering as a stale dirname
    spark.sql("DELETE FROM cat.pt.t WHERE id = 9")
    assert(spark.sql("SHOW PARTITIONS cat.pt.t")
      .as[String].collect().toSeq === Seq("tag=y"))
    spark.sql("DROP TABLE cat.pt.t")
  }

  test("PARTITIONED BY (a, b): composite value grain, pruning on any column") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.pt2")
    spark.sql("DROP TABLE IF EXISTS cat.pt2.t")
    spark.sql("CREATE TABLE cat.pt2.t (id BIGINT, day STRING, region STRING) " +
      "USING graft PARTITIONED BY (day, region)")
    spark.sql("INSERT INTO cat.pt2.t VALUES " +
      "(1, 'd1', 'eu'), (2, 'd1', 'us'), (3, 'd2', 'eu'), (4, 'd2', 'us')")
    // one nested leaf per (day, region) combination
    assert(Graft.plannedFiles(spark.sql("SELECT * FROM cat.pt2.t")) === 4)
    // a two-predicate filter plans exactly its leaf
    val one = spark.sql(
      "SELECT id FROM cat.pt2.t WHERE day = 'd2' AND region = 'eu'")
    assert(Graft.plannedFiles(one) === 1,
      "a full partition-tuple filter must plan exactly one leaf")
    assert(one.as[Long].head() === 3L)
    // a PREFIX filter (first column only) prunes to its slice
    assert(Graft.plannedFiles(spark.sql(
      "SELECT * FROM cat.pt2.t WHERE day = 'd1'")) === 2)
    // a NON-prefix filter (second column alone) prunes too — per-level
    // stats, not a path-prefix convention
    assert(Graft.plannedFiles(spark.sql(
      "SELECT * FROM cat.pt2.t WHERE region = 'us'")) === 2)
    // SHOW PARTITIONS lists value tuples in the hive shape
    assert(spark.sql("SHOW PARTITIONS cat.pt2.t")
      .as[String].collect().toSeq ===
      Seq("day=d1/region=eu", "day=d1/region=us",
        "day=d2/region=eu", "day=d2/region=us"))
    // INSERT OVERWRITE replaces atomically at the same grain
    spark.sql("INSERT OVERWRITE cat.pt2.t VALUES (9, 'd9', 'eu')")
    assert(Graft.plannedFiles(spark.sql(
      "SELECT * FROM cat.pt2.t WHERE region = 'eu'")) === 1)
    assert(spark.sql("SELECT count(*) FROM cat.pt2.t VERSION AS OF 1")
      .as[Long].head() === 4L)
    spark.sql("DROP TABLE cat.pt2.t")
  }

  test("composite-partitioned OPTIMIZE restores the tuple grain") {
    def leafish(dir: String): Seq[String] =
      TxLog.liveFiles(dir).map { p =>
        val h = new org.apache.hadoop.fs.Path(p)
        s"${h.getParent.getName}/${h.getName}"
      }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.po2")
    spark.sql("DROP TABLE IF EXISTS cat.po2.t")
    spark.sql("CREATE TABLE cat.po2.t (id BIGINT, a STRING, b STRING) " +
      "USING graft PARTITIONED BY (a, b)")
    // ids 1 and 4 share the (x, p) leaf so a single-row DELETE leaves a
    // remainder rewrite — the residue this test needs
    spark.sql("INSERT INTO cat.po2.t VALUES " +
      "(1, 'x', 'p'), (4, 'x', 'p'), (2, 'x', 'q'), (3, 'y', 'p')")
    val dir = spark.sql("DESCRIBE TABLE EXTENDED cat.po2.t")
      .filter($"col_name" === "Location").select("data_type").as[String]
      .head()
    // a row-level DELETE leaves residue that lost the leaf naming
    spark.sql("DELETE FROM cat.po2.t WHERE id = 1")
    assert(leafish(dir).exists(!_.contains("__pv")),
      "the DELETE must have produced a residue file for this test")
    spark.sql("OPTIMIZE cat.po2.t")
    assert(leafish(dir).sorted ===
      Seq("__pv=x/__pv1=p", "__pv=x/__pv1=q", "__pv=y/__pv1=p"),
      s"optimize must restore one leaf per tuple, got ${leafish(dir)}")
    assert(spark.sql("SELECT id FROM cat.po2.t ORDER BY id")
      .as[Long].collect().toSeq === Seq(2L, 3L, 4L))
    // idempotence: a second run is a no-op
    assert(spark.sql("OPTIMIZE cat.po2.t").as[Int].head() === 0)
    spark.sql("DROP TABLE cat.po2.t")
  }

  test("PARTITIONED BY (days(ts)): time-bucketed leaves, raw ts predicates prune") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.dts")
    spark.sql("DROP TABLE IF EXISTS cat.dts.t")
    spark.sql("CREATE TABLE cat.dts.t (id BIGINT, ts TIMESTAMP) " +
      "USING graft PARTITIONED BY (days(ts))")
    spark.sql("INSERT INTO cat.dts.t VALUES " +
      "(1, TIMESTAMP '2024-01-01 03:00:00'), " +
      "(2, TIMESTAMP '2024-01-01 20:00:00'), " +
      "(3, TIMESTAMP '2024-01-02 10:00:00'), " +
      "(4, TIMESTAMP '2024-01-03 10:00:00')")
    // one leaf per day
    val dir = spark.sql("DESCRIBE TABLE EXTENDED cat.dts.t")
      .filter($"col_name" === "Location").select("data_type").as[String]
      .head()
    assert(TxLog.liveFiles(dir)
      .map(p => new org.apache.hadoop.fs.Path(p).getName).sorted ===
      Seq("__pv=2024-01-01", "__pv=2024-01-02", "__pv=2024-01-03"))
    // a RAW ts predicate (never naming the transform) prunes to its day
    // via the per-leaf ts min/max stats
    val one = spark.sql("SELECT id FROM cat.dts.t " +
      "WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' " +
      "AND ts < TIMESTAMP '2024-01-03 00:00:00'")
    assert(Graft.plannedFiles(one) === 1,
      "a one-day ts window must plan exactly that day's leaf")
    assert(one.as[Long].collect().toSeq === Seq(3L))
    // SHOW PARTITIONS lists the day values under the transform spec
    assert(spark.sql("SHOW PARTITIONS cat.dts.t").as[String]
      .collect().toSeq === Seq("days(ts)=2024-01-01",
        "days(ts)=2024-01-02", "days(ts)=2024-01-03"))
    // a DELETE's residue re-clusters back into day leaves via OPTIMIZE
    spark.sql("DELETE FROM cat.dts.t WHERE id = 1")
    spark.sql("OPTIMIZE cat.dts.t")
    assert(TxLog.liveFiles(dir)
      .map(p => new org.apache.hadoop.fs.Path(p).getName).sorted ===
      Seq("__pv=2024-01-01", "__pv=2024-01-02", "__pv=2024-01-03"))
    assert(spark.sql("SELECT count(*) FROM cat.dts.t").as[Long].head() === 3L)
    // DESCRIBE DETAIL renders the transform spec as the partition column
    assert(spark.sql("DESCRIBE DETAIL cat.dts.t")
      .select("partition_columns").as[String].head() === "days(ts)")
    // unknown transforms stay rejected loudly (bucket and truncate are
    // supported since r15 — see their tests)
    intercept[Exception] {
      spark.sql("CREATE TABLE cat.dts.bad (id BIGINT, s STRING) " +
        "USING graft PARTITIONED BY (foo(s))")
    }
    // the months() sibling buckets by calendar month
    spark.sql("DROP TABLE IF EXISTS cat.dts.m")
    spark.sql("CREATE TABLE cat.dts.m (id BIGINT, ts TIMESTAMP) " +
      "USING graft PARTITIONED BY (months(ts))")
    spark.sql("INSERT INTO cat.dts.m VALUES " +
      "(1, TIMESTAMP '2024-01-05 00:00:00'), " +
      "(2, TIMESTAMP '2024-02-05 00:00:00')")
    assert(spark.sql("SHOW PARTITIONS cat.dts.m").as[String]
      .collect().toSeq === Seq("months(ts)=2024-01", "months(ts)=2024-02"))
    spark.sql("DROP TABLE cat.dts.m")
    spark.sql("DROP TABLE cat.dts.t")
  }

  test("PARTITIONED BY (bucket(n, col)): exact #bk# pruning, nulls, DML") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.bk")
    spark.sql("DROP TABLE IF EXISTS cat.bk.t")
    spark.sql("CREATE TABLE cat.bk.t (id BIGINT, name STRING, v DOUBLE) " +
      "USING graft PARTITIONED BY (bucket(4, name))")
    // 40 distinct names + one NULL row; the meta round-trip must survive
    // the spec's own comma (percent-encoded partcol serialization)
    (0 until 40).map(i => (i.toLong, s"user_$i", i * 1.5))
      .toDF("id", "name", "v").createOrReplaceTempView("bk_src")
    spark.sql("INSERT INTO cat.bk.t SELECT id, name, v FROM bk_src")
    spark.sql("INSERT INTO cat.bk.t VALUES (99, NULL, 0.5)")
    val dir = spark.sql("DESCRIBE TABLE EXTENDED cat.bk.t")
      .filter($"col_name" === "Location").select("data_type").as[String]
      .head()
    // a point predicate prunes to exactly ONE of the 4 bucket leaves
    // (plus nothing else: #bk# membership is exact, not a bloom), and
    // the null row's default leaf carries no segment so IS NULL reads
    val one = spark.sql("SELECT id FROM cat.bk.t WHERE name = 'user_7'")
    assert(Graft.plannedFiles(one) === 1,
      "a name point predicate must plan exactly 1 of the 4 bucket leaves")
    assert(one.as[Long].collect().toSeq === Seq(7L))
    assert(spark.sql("SELECT id FROM cat.bk.t WHERE name IS NULL")
      .as[Long].collect().toSeq === Seq(99L))
    // the derived bucket matches THE portable bucket every shard/split
    // operator shares (the md5 twin)
    val leafOfUser7 = spark.sql(
      "SELECT pmod(CAST(conv(substr(md5('user_7'), 1, 8), 16, 10) " +
        "AS BIGINT), 4)")
      .as[Long].head()
    val leaves = TxLog.liveFiles(dir)
      .map(p => new org.apache.hadoop.fs.Path(p).getName)
    assert(leaves.contains(s"__pv=$leafOfUser7"))
    // Transform round-trip: partitioning() re-renders the bucket spec
    assert(spark.sql("DESCRIBE DETAIL cat.bk.t")
      .select("partition_columns").as[String].head() === "bucket(4,name)")
    // a DELETE's residue loses the #bk# grain (reads stay correct),
    // OPTIMIZE restores it and the point plan is 1 leaf again
    spark.sql("DELETE FROM cat.bk.t WHERE id = 0")
    assert(spark.sql("SELECT count(*) FROM cat.bk.t").as[Long].head() === 40L)
    spark.sql("OPTIMIZE cat.bk.t")
    val afterOpt = spark.sql("SELECT id FROM cat.bk.t WHERE name = 'user_7'")
    assert(Graft.plannedFiles(afterOpt) === 1 &&
      afterOpt.as[Long].collect().toSeq === Seq(7L),
      "OPTIMIZE must restore the exact bucket grain")
    spark.sql("DROP TABLE cat.bk.t")
  }

  test("PARTITIONED BY (truncate(w, col)): exact prefix pruning, ''/null routing") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.tr")
    spark.sql("DROP TABLE IF EXISTS cat.tr.t")
    spark.sql("CREATE TABLE cat.tr.t (id BIGINT, path STRING, v DOUBLE) " +
      "USING graft PARTITIONED BY (truncate(2, path))")
    spark.sql("INSERT INTO cat.tr.t VALUES " +
      "(1, 'aa/x', 1.0), (2, 'aa/y', 2.0), (3, 'ab/z', 3.0), " +
      "(4, 'zz/q', 4.0), (5, '', 5.0), (6, NULL, 6.0)")
    // leaves: aa, ab, zz + the default leaf holding '' AND NULL
    val one = spark.sql("SELECT id FROM cat.tr.t WHERE path = 'aa/x'")
    assert(Graft.plannedFiles(one) === 1,
      "a path point predicate must plan exactly its prefix's leaf " +
        "(#tp# exact membership; the ''/null default leaf prunes via #te#)")
    assert(one.as[Long].collect().toSeq === Seq(1L))
    // the '' literal reads ONLY the default leaf (its #te# marker
    // admits it; every #tp# prefix leaf rejects it)
    val empty = spark.sql("SELECT id FROM cat.tr.t WHERE path = ''")
    assert(Graft.plannedFiles(empty) === 1 &&
      empty.as[Long].collect().toSeq === Seq(5L))
    assert(spark.sql("SELECT id FROM cat.tr.t WHERE path IS NULL")
      .as[Long].collect().toSeq === Seq(6L))
    // prefix grouping: aa/x and aa/y share one leaf
    assert(spark.sql("SELECT count(*) FROM cat.tr.t WHERE path = 'aa/y'")
      .as[Long].head() === 1L)
    assert(spark.sql("DESCRIBE DETAIL cat.tr.t")
      .select("partition_columns").as[String].head() === "truncate(2,path)")
    spark.sql("DROP TABLE cat.tr.t")
  }

  test("ALTER TABLE SET PARTITIONED BY: spec evolution, lazy migration") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.ev")
    spark.sql("DROP TABLE IF EXISTS cat.ev.t")
    spark.sql("CREATE TABLE cat.ev.t (id BIGINT, etype STRING, " +
      "ts TIMESTAMP) USING graft PARTITIONED BY (etype)")
    spark.sql("INSERT INTO cat.ev.t VALUES " +
      "(1, 'click', TIMESTAMP '2024-01-01 03:00:00'), " +
      "(2, 'view',  TIMESTAMP '2024-01-02 04:00:00')")
    val dir = spark.sql("DESCRIBE TABLE EXTENDED cat.ev.t")
      .filter($"col_name" === "Location").select("data_type").as[String]
      .head()
    val filesBefore = TxLog.liveFiles(dir)
    // the evolution statement: one metadata-only commit
    val v = spark.sql(
      "ALTER TABLE cat.ev.t SET PARTITIONED BY (days(ts))")
      .as[Int].head()
    assert(v === TxLog.latestVersion(dir))
    assert(TxLog.liveFiles(dir) === filesBefore,
      "spec evolution must touch zero data files")
    assert(TxLog.partitionSpec(dir) === Some(Seq("days(ts)")))
    // future INSERTs cluster by the NEW spec
    spark.sql("INSERT INTO cat.ev.t VALUES " +
      "(3, 'click', TIMESTAMP '2024-01-03 05:00:00'), " +
      "(4, 'view',  TIMESTAMP '2024-01-04 06:00:00')")
    val names = TxLog.liveFiles(dir)
      .map(p => new org.apache.hadoop.fs.Path(p).getName).sorted
    assert(names === Seq("__pv=2024-01-03", "__pv=2024-01-04",
      "__pv=click", "__pv=view"),
      s"old value leaves stay; new rows land as day leaves: $names")
    // mixed-grain pruning, each epoch by its own segments: a one-day
    // window prunes the OTHER day leaf exactly; pre-evolution leaves
    // carry no ts segment and read conservatively
    val day3 = spark.sql("SELECT id FROM cat.ev.t " +
      "WHERE ts >= TIMESTAMP '2024-01-03 00:00:00' " +
      "AND ts < TIMESTAMP '2024-01-04 00:00:00'")
    assert(Graft.plannedFiles(day3) === 3 &&
      day3.as[Long].collect().toSeq === Seq(3L),
      "the day-4 leaf must prune; the two pre-evolution leaves read")
    // SHOW PARTITIONS under mixed grain: the dirname fast path would
    // mislabel "click" as a day — the #sp# tag forces the exact
    // distinct scan, which derives days for ALL rows
    assert(spark.sql("SHOW PARTITIONS cat.ev.t").as[String]
      .collect().sorted.toSeq === Seq("days(ts)=2024-01-01",
        "days(ts)=2024-01-02", "days(ts)=2024-01-03",
        "days(ts)=2024-01-04"))
    // OPTIMIZE migrates lazily: pre-evolution leaves are residue under
    // the current spec and re-cluster into pure day grain
    spark.sql("OPTIMIZE cat.ev.t")
    val migrated = TxLog.liveFiles(dir)
      .map(p => new org.apache.hadoop.fs.Path(p).getName).sorted
    assert(migrated === Seq("__pv=2024-01-01", "__pv=2024-01-02",
      "__pv=2024-01-03", "__pv=2024-01-04"),
      s"OPTIMIZE must migrate the table to the evolved grain: $migrated")
    val day3After = spark.sql("SELECT id FROM cat.ev.t " +
      "WHERE ts >= TIMESTAMP '2024-01-03 00:00:00' " +
      "AND ts < TIMESTAMP '2024-01-04 00:00:00'")
    assert(Graft.plannedFiles(day3After) === 1 &&
      day3After.as[Long].collect().toSeq === Seq(3L),
      "after migration a one-day window plans exactly 1 of 4 leaves")
    assert(spark.sql("SELECT count(*) FROM cat.ev.t").as[Long].head() === 4L)
    spark.sql("DROP TABLE cat.ev.t")
  }

  test("SET PARTITIONED BY: typo refusal, asOf spec labeling, memo coherence") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.ev2")
    spark.sql("DROP TABLE IF EXISTS cat.ev2.t")
    spark.sql("CREATE TABLE cat.ev2.t (id BIGINT, etype STRING, " +
      "ts TIMESTAMP) USING graft PARTITIONED BY (etype)")
    spark.sql("INSERT INTO cat.ev2.t VALUES " +
      "(1, 'click', TIMESTAMP '2024-01-01 03:00:00')")
    // a spec naming a column the table never declared is refused at the
    // statement, not at the next INSERT's derive
    val e = intercept[Exception] { spark.sql(
      "ALTER TABLE cat.ev2.t SET PARTITIONED BY (days(typo_col))") }
    assert(e.getMessage.contains("typo_col"))
    val dir = spark.sql("DESCRIBE TABLE EXTENDED cat.ev2.t")
      .filter($"col_name" === "Location").select("data_type").as[String]
      .head()
    val vPre = TxLog.latestVersion(dir)
    spark.sql("ALTER TABLE cat.ev2.t SET PARTITIONED BY (days(ts))")
    // resolution honors asOf: the spec IN FORCE at a version, not the
    // latest
    assert(TxLog.partitionSpec(dir, vPre) === None)
    assert(TxLog.partitionSpec(dir) === Some(Seq("days(ts)")))
    // ... and a VERSION AS OF table load labels its own snapshot
    val cat = spark.sessionState.catalogManager.catalog("cat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("ev2"), "t")
    assert(cat.loadTable(ident, vPre.toString).asInstanceOf[GraftTable]
      .partCols === Seq("etype"))
    assert(cat.loadTable(ident).asInstanceOf[GraftTable]
      .partCols === Seq("days(ts)"))
    spark.sql("DROP TABLE cat.ev2.t")
    // memoized resolution stays coherent across destroy + re-create at
    // the SAME path reaching the SAME version count (the one shape a
    // version-keyed cache cannot distinguish without invalidation)
    val d2 = freshDir() + "/memo"
    def land(name: String): Unit = { TxLog.commit(d2, Seq(TxLog.writeBatch(
      Seq((1L, "a")).toDF("id", "tag"), d2, name))); () }
    land("b0")
    TxLog.setPartitionSpec(d2, Seq("tag"))
    assert(TxLog.partitionSpec(d2) === Some(Seq("tag")))
    TxLog.destroy(d2)
    land("b0"); land("b1") // back to version 2, never evolved this life
    assert(TxLog.partitionSpec(d2) === None)
  }

  test("ADD COLUMN on a partitioned table: metadata-only, pruning kept") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.pac")
    spark.sql("DROP TABLE IF EXISTS cat.pac.t")
    spark.sql("CREATE TABLE cat.pac.t (id BIGINT, tag STRING) USING graft " +
      "PARTITIONED BY (tag)")
    spark.sql("INSERT INTO cat.pac.t VALUES (1, 'a'), (2, 'b')")
    val dir = spark.sql("DESCRIBE TABLE EXTENDED cat.pac.t")
      .filter($"col_name" === "Location").select("data_type").as[String]
      .head()
    val filesBefore = TxLog.liveFiles(dir)
    // the additive verb is mapping-free and composes with the leaves
    spark.sql("ALTER TABLE cat.pac.t ADD COLUMN score DOUBLE")
    assert(TxLog.liveFiles(dir) === filesBefore,
      "ADD COLUMN must not touch a single data file")
    // pre-add leaves null-fill; INSERT fills the column
    assert(spark.sql("SELECT count(*) FROM cat.pac.t WHERE score IS NULL")
      .as[Long].head() === 2L)
    spark.sql("INSERT INTO cat.pac.t VALUES (3, 'c', 7.5)")
    assert(spark.sql("SELECT score FROM cat.pac.t ORDER BY id")
      .as[Option[Double]].collect().toSeq ===
      Seq(None, None, Some(7.5)))
    // partition pruning still plans exactly one leaf
    assert(Graft.plannedFiles(spark.sql(
      "SELECT * FROM cat.pac.t WHERE tag = 'c'")) === 1)
    // the mapping-creating verbs stay refused with the documented reason
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE cat.pac.t RENAME COLUMN id TO key")
    }
    assert(e.getMessage.contains("PARTITIONED"))
    intercept[Exception] {
      spark.sql("ALTER TABLE cat.pac.t DROP COLUMN score")
    }
    // adding a column that shadows the partition column is refused
    intercept[Exception] {
      spark.sql("ALTER TABLE cat.pac.t ADD COLUMN tag STRING")
    }
    spark.sql("DROP TABLE cat.pac.t")
  }

  test("INSERT INTO ... REPLACE WHERE swaps the window as one SQL statement") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, "d1", 1.0), (2L, "d1", 2.0), (10L, "d2", 10.0))
        .toDF("id", "day", "v"), dir, "b0")))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.rw")
    spark.sql("DROP TABLE IF EXISTS cat.rw.t")
    spark.sql(s"CREATE TABLE cat.rw.t USING graft LOCATION '$dir'")
    spark.sql("INSERT INTO cat.rw.t REPLACE WHERE day = 'd1' " +
      "SELECT * FROM VALUES (3, 'd1', 3.0), (4, 'd1', 4.0)")
    assert(spark.sql("SELECT * FROM cat.rw.t ORDER BY id")
      .as[(Long, String, Double)].collect().toSeq ===
      Seq((3L, "d1", 3.0), (4L, "d1", 4.0), (10L, "d2", 10.0)))
    // one atomic commit: the old window still time travels
    assert(spark.sql("SELECT count(*) FROM cat.rw.t VERSION AS OF 1")
      .as[Long].head() === 3L)
    // containment: an out-of-window source row fails the statement
    val e = intercept[Exception] {
      spark.sql("INSERT INTO cat.rw.t REPLACE WHERE day = 'd1' " +
        "SELECT * FROM VALUES (5, 'd9', 5.0)")
    }
    assert(e.getMessage.contains("satisfy the predicate"))
    // a plain INSERT INTO still routes through the ordinary write path
    spark.sql("INSERT INTO cat.rw.t VALUES (20, 'd3', 20.0)")
    assert(spark.sql("SELECT count(*) FROM cat.rw.t").as[Long].head() === 4L)
    spark.sql("DROP TABLE cat.rw.t")
  }

  test("VACUUM DRY RUN lists reclaimable paths without deleting") {
    val dir = freshDir()
    (0 until 2).foreach { k =>
      TxLog.commit(dir, Seq(TxLog.writeBatch(
        Seq((k.toLong, k * 1.0)).toDF("id", "v"), dir, s"b$k")))
    }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.vd")
    spark.sql("DROP TABLE IF EXISTS cat.vd.t")
    spark.sql(s"CREATE TABLE cat.vd.t USING graft LOCATION '$dir'")
    spark.sql("OPTIMIZE cat.vd.t TARGET 1")
    TxLog.checkpoint(dir); TxLog.expireManifests(dir)
    val dry = spark.sql("VACUUM cat.vd.t DRY RUN").as[String].collect()
    assert(dry.length === 2, s"dry run must list the 2 retired batches: ${dry.toSeq}")
    // nothing was deleted: the real vacuum still reclaims them
    assert(spark.sql("VACUUM cat.vd.t").count() === 2)
    assert(spark.sql("SELECT count(*) FROM cat.vd.t").as[Long].head() === 2L)
    spark.sql("DROP TABLE cat.vd.t")
  }

  test("TRUNCATE TABLE empties the table as ordinary history") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.trc")
    spark.sql("DROP TABLE IF EXISTS cat.trc.t")
    spark.sql("CREATE TABLE cat.trc.t (id BIGINT, v DOUBLE) USING graft")
    spark.sql("INSERT INTO cat.trc.t VALUES (1, 1.0), (2, 2.0)")
    spark.sql("TRUNCATE TABLE cat.trc.t")
    assert(spark.sql("SELECT count(*) FROM cat.trc.t").as[Long].head() === 0L)
    // the truncated content still time travels, and the table keeps working
    assert(spark.sql("SELECT count(*) FROM cat.trc.t VERSION AS OF 1")
      .as[Long].head() === 2L)
    spark.sql("INSERT INTO cat.trc.t VALUES (9, 9.0)")
    assert(spark.sql("SELECT v FROM cat.trc.t").as[Double].head() === 9.0)
    spark.sql("DROP TABLE cat.trc.t")
  }

  test("SHOW PARTITIONS on a non-graft table delegates to Spark's native plan") {
    // SHOW PARTITIONS is native grammar; installing the graft parser
    // must not break it for hive/parquet tables (ADVICE r13)
    spark.sql("DROP TABLE IF EXISTS spark_catalog.default.natp")
    spark.sql("CREATE TABLE spark_catalog.default.natp (id INT, p STRING) " +
      "USING parquet PARTITIONED BY (p)")
    spark.sql("INSERT INTO spark_catalog.default.natp VALUES (1, 'x'), (2, 'y')")
    assert(spark.sql("SHOW PARTITIONS spark_catalog.default.natp")
      .as[String].collect().sorted.toSeq === Seq("p=x", "p=y"))
    // the 2-part spelling resolves through the session catalog too
    assert(spark.sql("SHOW PARTITIONS default.natp")
      .as[String].collect().sorted.toSeq === Seq("p=x", "p=y"))
    // a missing table still raises the native error, not a graft one
    val e = intercept[Exception] {
      spark.sql("SHOW PARTITIONS default.no_such_tbl").collect()
    }
    assert(e.getMessage.toLowerCase.contains("table"))
    spark.sql("DROP TABLE spark_catalog.default.natp")
  }

  test("INSERT OVERWRITE with an empty source truncates a partitioned table") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.tr")
    spark.sql("DROP TABLE IF EXISTS cat.tr.t")
    spark.sql("CREATE TABLE cat.tr.t (id BIGINT, tag STRING) USING graft " +
      "PARTITIONED BY (tag)")
    spark.sql("INSERT INTO cat.tr.t VALUES (1, 'a'), (2, 'b')")
    // standard SQL semantics: an empty overwrite source empties the
    // table (the non-partitioned overwriteAll already does; ADVICE r13)
    spark.sql(
      "INSERT OVERWRITE cat.tr.t SELECT id, tag FROM cat.tr.t WHERE false")
    assert(spark.sql("SELECT count(*) FROM cat.tr.t").as[Long].head() === 0L)
    // the truncation is ordinary history: the old content time travels
    assert(spark.sql("SELECT count(*) FROM cat.tr.t VERSION AS OF 1")
      .as[Long].head() === 2L)
    // the table keeps working at the value grain afterwards
    spark.sql("INSERT INTO cat.tr.t VALUES (9, 'z')")
    assert(spark.sql("SELECT id FROM cat.tr.t WHERE tag = 'z'")
      .as[Long].head() === 9L)
    spark.sql("DROP TABLE cat.tr.t")
  }

  test("OPTIMIZE on a partitioned table restores the value grain") {
    def leafNames(dir: String): Seq[String] =
      TxLog.liveFiles(dir).map(p => new org.apache.hadoop.fs.Path(p).getName)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.po")
    spark.sql("DROP TABLE IF EXISTS cat.po.t")
    spark.sql("CREATE TABLE cat.po.t (id BIGINT, tag STRING) USING graft " +
      "PARTITIONED BY (tag)")
    // two inserts → every value holds two leaves
    spark.sql("INSERT INTO cat.po.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO cat.po.t VALUES (3, 'a'), (4, 'b'), (5, 'a')")
    val dir = spark.sql("DESCRIBE TABLE EXTENDED cat.po.t")
      .filter($"col_name" === "Location").select("data_type").as[String]
      .head()
    // a row-level DELETE rewrites a multi-row leaf into un-grained
    // residue (the remainder keeps id=5)
    spark.sql("DELETE FROM cat.po.t WHERE id = 3")
    assert(leafNames(dir).exists(!_.startsWith("__pv=")),
      "the DELETE must have produced a residue file for this test")
    spark.sql("OPTIMIZE cat.po.t")
    // pure value grain again: every live file is a leaf, one per value
    assert(leafNames(dir).sorted === Seq("__pv=a", "__pv=b"),
      s"optimize must restore one leaf per value, got ${leafNames(dir)}")
    assert(spark.sql("SELECT id FROM cat.po.t ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L, 4L, 5L))
    // idempotence: a second run is a no-op
    assert(spark.sql("OPTIMIZE cat.po.t").as[Int].head() === 0)
    // grain-destroying forms are rejected loudly
    assert(intercept[Exception] {
      spark.sql("OPTIMIZE cat.po.t ZORDER BY (id, tag)")
    }.getMessage.contains("PARTITIONED"))
    assert(intercept[Exception] {
      spark.sql("OPTIMIZE cat.po.t TARGET 1")
    }.getMessage.contains("PARTITIONED"))
    spark.sql("DROP TABLE cat.po.t")
  }

  test("stats-on-write: plain INSERTs and INSERT OVERWRITE prune") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.as")
    spark.sql("DROP TABLE IF EXISTS cat.as.t")
    spark.sql("CREATE TABLE cat.as.t (id BIGINT, v DOUBLE) USING graft")
    spark.sql("INSERT INTO cat.as.t VALUES (1, 1.0), (2, 2.0)")
    spark.sql("INSERT INTO cat.as.t VALUES (100, 10.0), (200, 20.0)")
    // range stats landed with each insert: a disjoint filter plans only
    // the one matching batch's part files (each insert may write several)
    val all = Graft.plannedFiles(spark.sql("SELECT * FROM cat.as.t"))
    val hi = Graft.plannedFiles(spark.sql(
      "SELECT * FROM cat.as.t WHERE id >= 100"))
    assert(hi >= 1 && hi * 2 <= all,
      s"the high batch alone must plan, got $hi of $all")
    assert(spark.sql("SELECT sum(v) FROM cat.as.t WHERE id >= 100")
      .as[Double].head() === 30.0)
    // INSERT OVERWRITE keeps the behavior
    spark.sql("INSERT OVERWRITE cat.as.t VALUES (5, 5.0)")
    spark.sql("INSERT INTO cat.as.t VALUES (500, 50.0)")
    val all2 = Graft.plannedFiles(spark.sql("SELECT * FROM cat.as.t"))
    val lo = Graft.plannedFiles(spark.sql(
      "SELECT * FROM cat.as.t WHERE id <= 10"))
    assert(lo >= 1 && lo * 2 <= all2,
      s"the overwrite batch alone must plan, got $lo of $all2")
    spark.sql("DROP TABLE cat.as.t")
  }

  test("snapshot reads keep pushdown: filter reaches the parquet scan") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      (1L to 100L).map(i => (i, i * 2.0)).toDF("id", "v"), dir, "b0")))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.pp")
    spark.sql("DROP TABLE IF EXISTS cat.pp.t")
    spark.sql(s"CREATE TABLE cat.pp.t USING graft LOCATION '$dir'")
    val plan = spark.sql("SELECT id FROM cat.pp.t WHERE id = 7")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(id,7"),
      s"the catalog read must keep parquet pushdown:\n$plan")
    assert(spark.sql("SELECT id FROM cat.pp.t WHERE id = 7")
      .as[Long].head() === 7L)
    spark.sql("DROP TABLE cat.pp.t")
  }

  test("SHOW TABLES / tableExists / rename / listNamespaces") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.meta")
    spark.sql("DROP TABLE IF EXISTS cat.meta.a")
    spark.sql("DROP TABLE IF EXISTS cat.meta.b")
    spark.sql("CREATE TABLE cat.meta.a (id BIGINT) USING graft")
    assert(spark.sql("SHOW TABLES IN cat.meta").select("tableName")
      .as[String].collect().toSeq.contains("a"))
    spark.sql("ALTER TABLE cat.meta.a RENAME TO meta.b")
    assert(spark.sql("SHOW TABLES IN cat.meta").select("tableName")
      .as[String].collect().toSeq.sorted === Seq("b"))
    assert(spark.sql("SHOW NAMESPACES IN cat").select("namespace")
      .as[String].collect().toSet.contains("meta"))
    spark.sql("DROP TABLE cat.meta.b")
  }

  test("CREATE TABLE AS SELECT lands the query as the first commit") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.ctas")
    spark.sql("DROP TABLE IF EXISTS cat.ctas.t")
    spark.sql(
      "CREATE TABLE cat.ctas.t USING graft AS " +
        "SELECT id, CAST(id AS DOUBLE) * 2.0 AS v FROM range(5)")
    assert(spark.sql("SELECT sum(v) FROM cat.ctas.t").as[Double].head()
      === 20.0)
    assert(spark.sql("SELECT * FROM cat.ctas.t").columns.toSeq ===
      Seq("id", "v"))
    spark.sql("DROP TABLE cat.ctas.t")
  }

  test("TIMESTAMP AS OF resolves through commit timestamps") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, 1.0)).toDF("id", "v"), dir, "b0")))
    val tsAfterV1 = java.time.Instant
      .ofEpochMilli(TxLog.manifestTs(dir, 1) + 1)
      .toString.replace("T", " ").stripSuffix("Z")
    Thread.sleep(5)
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((2L, 2.0)).toDF("id", "v"), dir, "b1")))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.tt")
    spark.sql("DROP TABLE IF EXISTS cat.tt.t")
    spark.sql(s"CREATE TABLE cat.tt.t USING graft LOCATION '$dir'")
    assert(spark.sql(
      s"SELECT count(*) FROM cat.tt.t TIMESTAMP AS OF '$tsAfterV1'")
      .as[Long].head() === 1L)
    assert(spark.sql("SELECT count(*) FROM cat.tt.t").as[Long].head() === 2L)
    spark.sql("DROP TABLE cat.tt.t")
  }

  test("OPTIMIZE / VACUUM / DESCRIBE HISTORY parse as SQL and run the verbs") {
    val dir = freshDir()
    (0 until 3).foreach { k =>
      TxLog.commit(dir, Seq(TxLog.writeBatch(
        Seq((k.toLong, k * 1.0)).toDF("id", "v"), dir, s"b$k")))
    }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.mnt")
    spark.sql("DROP TABLE IF EXISTS cat.mnt.t")
    spark.sql(s"CREATE TABLE cat.mnt.t USING graft LOCATION '$dir'")
    assert(spark.sql("OPTIMIZE cat.mnt.t TARGET 1").head().getInt(0) === 4)
    assert(TxLog.liveFiles(dir).size === 1)
    assert(spark.sql("DESCRIBE HISTORY cat.mnt.t").count() === 4)
    // time-travel safety: nothing reclaims while versions resolve
    assert(spark.sql("VACUUM cat.mnt.t").count() === 0)
    TxLog.checkpoint(dir); TxLog.expireManifests(dir)
    assert(spark.sql("VACUUM cat.mnt.t").count() === 3)
    // content survived the whole maintenance loop
    assert(spark.sql("SELECT sum(v) FROM cat.mnt.t").as[Double].head() === 3.0)
    // the ZORDER form parses and commits
    assert(spark.sql("OPTIMIZE cat.mnt.t ZORDER BY (id, v)")
      .head().getInt(0) > 4)
    // the delegate still owns everything else
    assert(spark.sql("SELECT 1 AS one").as[Int].head() === 1)
    // a non-graft name fails loudly at execution
    val e = intercept[Exception] { spark.sql("VACUUM spark_catalog.default.nope").collect() }
    assert(e.getMessage != null)
    spark.sql("DROP TABLE cat.mnt.t")
  }

  test("racing CREATEs resolve to one winner (the manifest claim discipline)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.race")
    spark.sql("DROP TABLE IF EXISTS cat.race.t")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val base = freshDir()
    val futs = (1 to 8).map { i =>
      scala.concurrent.Future {
        gate.await()
        try {
          spark.sql(s"CREATE TABLE cat.race.t (id BIGINT) USING graft " +
            s"LOCATION '$base/graft_race_loc_$i'")
          Right(i)
        } catch { case e: Exception => Left(e.getClass.getSimpleName) }
      }
    }
    gate.countDown()
    val results = futs.map(f => scala.concurrent.Await.result(
      f, scala.concurrent.duration.Duration(60, "s"))).toList
    pool.shutdown()
    assert(results.count(_.isRight) === 1,
      s"exactly one CREATE must win the claim: $results")
    // the surviving pointer is the winner's, consistently readable
    val loc = spark.sql("DESCRIBE TABLE EXTENDED cat.race.t")
      .filter($"col_name" === "Location").select("data_type")
      .as[String].head()
    val winner = results.collectFirst { case Right(i) => i }.get
    assert(loc.endsWith(s"graft_race_loc_$winner"),
      s"the catalog must serve the winner's location: $loc vs $winner")
    spark.sql("DROP TABLE cat.race.t")
  }

  test("RESTORE and SHALLOW CLONE as SQL statements") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, 1.0)).toDF("id", "v"), dir, "b0")))
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((2L, 2.0)).toDF("id", "v"), dir, "b1")))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.rc")
    spark.sql("DROP TABLE IF EXISTS cat.rc.t")
    spark.sql("DROP TABLE IF EXISTS cat.rc.t2")
    spark.sql(s"CREATE TABLE cat.rc.t USING graft LOCATION '$dir'")
    // zero-copy fork at version 1, registered as a managed table
    spark.sql("CREATE TABLE cat.rc.t2 SHALLOW CLONE cat.rc.t VERSION AS OF 1")
    assert(spark.sql("SELECT count(*) FROM cat.rc.t2").as[Long].head() === 1L)
    // the clone diverges independently of the source
    spark.sql("INSERT INTO cat.rc.t2 VALUES (9, 9.0)")
    assert(spark.sql("SELECT count(*) FROM cat.rc.t").as[Long].head() === 2L)
    // rollback the SOURCE to v1 via SQL; the restore is ordinary history
    assert(spark.sql("RESTORE cat.rc.t TO VERSION AS OF 1")
      .head().getInt(0) === 3)
    assert(spark.sql("SELECT count(*) FROM cat.rc.t").as[Long].head() === 1L)
    assert(spark.sql("SELECT count(*) FROM cat.rc.t VERSION AS OF 2")
      .as[Long].head() === 2L, "the pre-restore snapshot still serves")
    spark.sql("DROP TABLE cat.rc.t")
    spark.sql("DROP TABLE cat.rc.t2")
  }

  test("DataFrame writeTo API: append and overwrite through the catalog") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.wt")
    spark.sql("DROP TABLE IF EXISTS cat.wt.t")
    spark.sql("CREATE TABLE cat.wt.t (id BIGINT, v DOUBLE) USING graft")
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").writeTo("cat.wt.t").append()
    Seq((3L, 3.0)).toDF("id", "v").writeTo("cat.wt.t").append()
    assert(spark.table("cat.wt.t").orderBy("id").as[(Long, Double)]
      .collect().toSeq === Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    // each append landed as its own atomic commit
    assert(spark.sql("SELECT count(*) FROM cat.wt.t VERSION AS OF 1")
      .as[Long].head() === 2L)
    spark.sql("DROP TABLE cat.wt.t")
  }

  test("identifier parts cannot escape the catalog root") {
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE cat.esc.`..` (id BIGINT) USING graft")
    }
    assert(e.getMessage.contains("path separators") ||
      e.getMessage.contains("'..'"),
      s"a '..' table name must be rejected: ${e.getMessage}")
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE cat.`a/b`.t (id BIGINT) USING graft")
    }
    assert(e2.getMessage.contains("path separators"),
      s"a separator-carrying namespace must be rejected: ${e2.getMessage}")
  }

  test("reads through the catalog see deletion-vector masks") {
    val dir = freshDir()
    TxLog.commit(dir, Seq(TxLog.writeBatch(
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v"), dir, "b0")))
    TxLog.deleteWhereDV(spark, dir, "dv",
      org.apache.spark.sql.functions.col("id") === 2L)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.dv")
    spark.sql("DROP TABLE IF EXISTS cat.dv.t")
    spark.sql(s"CREATE TABLE cat.dv.t USING graft LOCATION '$dir'")
    assert(spark.sql("SELECT id FROM cat.dv.t ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 3L),
      "a DV-masked row must not leak through the SQL read")
    spark.sql("DROP TABLE cat.dv.t")
  }
}
