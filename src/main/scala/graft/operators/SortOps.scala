package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Sort / limit / top-k / sampling operators (SURVEY §2.8).
  *
  * Global total-order sort = `repartitionByRange` + `sortWithinPartitions`,
  * which is exactly the reference's TotalOrderPartitioner + per-reducer sort
  * (reference: hadoop-mapreduce-client-core .../lib/partition/TotalOrderPartitioner.java:50,
  * sampling .../lib/partition/InputSampler.java:57) — Spark does the range
  * sampling internally.
  */
object SortOps {

  /** Range-partition + locally sort + PIN (eager `localCheckpoint`).
    *
    * Every two-level template below runs TWO passes over the sorted data
    * (a per-partition summary collected to the driver, then the
    * offset-seeded map). Without pinning, both passes re-execute the full
    * range shuffle + sort — 2× the dominant cost at scale — and offset
    * alignment silently relies on re-execution reproducing an identical
    * partitioning and row order, which a nondeterministic upstream (a
    * `sample`, a task retry over nondeterministic input) would break.
    * Pinning materializes the sorted data ONCE; both passes and the
    * returned result read the same blocks, so the sort executes exactly
    * once and alignment is guaranteed by construction, not by
    * determinism.
    *
    * The returned template result stays lazy over the pinned blocks:
    * blocks are freed by [[graft.core.Checkpoints.releaseLineage]] once
    * the caller has materialized (chained templates do this for their
    * inputs), or by the session-level persistent-RDD sweep between
    * queries.
    *
    * Fault-tolerance tradeoff (and the `spark.graft.pinnedSort` escape
    * hatch): `localCheckpoint` stores blocks on the EXECUTORS
    * (MEMORY_AND_DISK) and severs lineage, so losing an executor mid-query
    * fails the job instead of recomputing, and library callers without a
    * per-query sweep accumulate a pinned copy per template call until they
    * release it. Deployments that prefer recompute-on-failure can set
    * `spark.graft.pinnedSort=false` in the session conf to fall back to an
    * unpinned sort — same plan minus the checkpoint — accepting the r8
    * caveats pinning exists to remove: the range shuffle + sort execute
    * once per pass (2×), and offset alignment between the passes then
    * RELIES on re-execution reproducing an identical partitioning and row
    * order, which is only sound for deterministic upstreams (no `sample`,
    * no nondeterministic source behind a task retry).
    *
    * Measured (r10, weightedQuantile on replicated lineitem, local[32],
    * 16g heap): at 6M rows the pin WINS (~5-6 s vs 6.3-7.3 s unpinned —
    * the saved second sort); at 60M rows it FLIPS (66 s vs 51 s) because
    * the pinned sorted copy exceeds the local storage pool and spills.
    * Pinned stays the default for the correctness guarantee; set the
    * conf false on deterministic sources under storage pressure. On a
    * real cluster executor storage scales with the data, moving the
    * flip point far right. */
  private def pinnedRangeSort(df: DataFrame, order: Seq[Column]): DataFrame = {
    val sorted =
      df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val pin = df.sparkSession.conf
      .getOption("spark.graft.pinnedSort") match {
      case None => true
      case Some(v) => v.trim.toLowerCase match {
        case "true"  => true
        case "false" => false
        case other => throw new IllegalArgumentException(
          s"spark.graft.pinnedSort must be true or false, got '$other'")
      }
    }
    if (pin) sorted.localCheckpoint()
    else {
      // the fallback silently trades the by-construction offset alignment
      // for a determinism ASSUMPTION (both template passes must re-execute
      // to identical partitioning and row order) — say so once per query,
      // where a wrong-row-number investigation will find it (ADVICE r10)
      System.err.println(
        "[graft] spark.graft.pinnedSort=false: two-pass sort templates now " +
          "RELY on deterministic re-execution of the range sort; do not use " +
          "over sample()/nondeterministic sources (wrong offsets, no error)")
      sorted
    }
  }

  /** Global 1-based row number in total sort order, WITHOUT a single-partition
    * window: range-partition + local sort, count rows per partition, then add
    * per-partition offsets computed from the (tiny) partition-count list.
    * This is the TeraSort-rank formulation that survives 100TB — a global
    * `row_number() OVER (ORDER BY ...)` would serialize through one task.
    * Requires the sort key to be a total order (add a unique tiebreaker). */
  def globalRowNumber(df: DataFrame, order: Seq[Column], rnCol: String = "rn"): DataFrame = {
    val sorted = pinnedRangeSort(df, order)
    val spark = df.sparkSession
    // Both passes run on InternalRow (queryExecution.toRdd over the pinned
    // blocks): the external-Row detour (`.rdd` + `createDataFrame`) paid
    // THREE full per-row conversion passes per template call — Catalyst→Row
    // for the counts pass, Catalyst→Row + Row→Catalyst around the offset
    // map — all pure overhead at the scan grain (guide §4: no non-codegen
    // row work in the hot path). Offsets and partition order are unchanged.
    val counts = sorted.queryExecution.toRdd
      .mapPartitionsWithIndex { case (i, it) => Iterator((i, it.size.toLong)) }
      .collect()
      .sortBy(_._1)
    val offsets = counts.map(_._2).scanLeft(0L)(_ + _)
    val schema = StructType(sorted.schema.fields :+ StructField(rnCol, LongType, nullable = false))
    val withRn = sorted.queryExecution.toRdd.mapPartitionsWithIndex { case (i, it) =>
      var rn = offsets(i)
      // reused JoinedRow view: the scan node re-projects to UnsafeRow per
      // row (RDDScanExec contract), so no per-row allocation is needed here
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val extra = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      it.map { row => rn += 1; extra.update(0, rn)
        joined(row, extra): org.apache.spark.sql.catalyst.InternalRow }
    }
    org.apache.spark.sql.graftbridge.SqlBridge.internalDf(spark, withRn, schema)
  }

  /** Top-k by order — Spark plans per-partition top-k then a k-merge
    * (TakeOrderedAndProject), the scalable "sort + single reducer" of the
    * reference's Grep job 2 (reference: hadoop-mapreduce-examples
    * .../examples/Grep.java:88-92). */
  def topK(df: DataFrame, order: Seq[Column], k: Int): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** PercentFilter parity: keep keys where key mod f == 0 (reference:
    * .../lib/input/SequenceFileInputFilter.java:110). Pushed to the scan. */
  def modSample(df: DataFrame, keyCol: Column, f: Int): DataFrame =
    df.filter(pmod(keyCol, lit(f)) === 0)

  /** MD5Filter parity: hash-sample keys via md5 prefix (reference:
    * .../lib/input/SequenceFileInputFilter.java:153). Portable across engines. */
  def md5Sample(df: DataFrame, keyCol: Column, hexPrefix: String): DataFrame =
    df.filter(substring(md5(keyCol.cast("string")), 1, hexPrefix.length) === hexPrefix)

  /** Deterministic train/val/test corpus split — the LLM-pipeline staple.
    * Assignment is a pure function of the key (first 8 hex of md5 -> bucket
    * in [0,100)), so it is stable across runs, engines, partitionings, and
    * re-shards; adding data never moves an existing key between splits.
    * `cuts` are cumulative upper bounds, e.g. Seq("train"->80, "val"->90,
    * "test"->100). No shuffle: a per-row projection. */
  def hashSplit(
      df: DataFrame, keyCol: Column,
      cuts: Seq[(String, Int)] =
        Seq("train" -> 80, "val" -> 90, "test" -> 100)): DataFrame = {
    require(cuts.nonEmpty && cuts.last._2 == 100 &&
      cuts.map(_._2) == cuts.map(_._2).sorted,
      "cuts must be ascending cumulative percentages ending at 100")
    val bucket = graft.functions.TextFunctions.portableBucket(keyCol, 100L)
    val label = cuts.init.foldRight(lit(cuts.last._1): Column) {
      case ((name, hi), elseCol) => when(bucket < hi, name).otherwise(elseCol)
    }
    df.withColumn("split", label)
  }

  /** Global exact cumulative sum in total sort order WITHOUT a
    * single-partition window: range-partition + local sort, one long per
    * partition collected to the driver, then a per-partition running sum
    * seeded by its prefix offset — the same two-level shape as
    * [[globalRowNumber]], so nothing serializes through one task at scale.
    * `cumCol` is the inclusive prefix sum of `valueCol` (cast to long;
    * nulls contribute 0 — the row keeps its place in the order, like
    * SQL SUM's null handling). The order must be total (add a unique
    * tiebreaker). */
  def globalCumSum(df: DataFrame, order: Seq[Column], valueCol: Column,
      cumCol: String = "cum"): DataFrame = {
    val withV = df.withColumn("_gcs_v", coalesce(valueCol.cast("long"), lit(0L)))
    val sorted = pinnedRangeSort(withV, order)
    val vIdx = sorted.schema.fieldIndex("_gcs_v")
    // InternalRow passes over the pinned blocks — see [[globalRowNumber]]
    // for why the external-Row detour was three wasted conversion passes
    val sums = sorted.queryExecution.toRdd
      .mapPartitionsWithIndex { case (i, it) =>
        var s = 0L; it.foreach(r => s += r.getLong(vIdx)); Iterator((i, s))
      }
      .collect()
      .sortBy(_._1)
    val offsets = sums.map(_._2).scanLeft(0L)(_ + _)
    val schema = StructType(
      sorted.schema.fields :+ StructField(cumCol, LongType, nullable = false))
    val withCum = sorted.queryExecution.toRdd.mapPartitionsWithIndex { case (i, it) =>
      var c = offsets(i)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val extra = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      it.map { row => c += row.getLong(vIdx); extra.update(0, c)
        joined(row, extra): org.apache.spark.sql.catalyst.InternalRow }
    }
    org.apache.spark.sql.graftbridge.SqlBridge
      .internalDf(df.sparkSession, withCum, schema).drop("_gcs_v")
  }

  /** [[globalCumSum]] generalized to SEVERAL value columns sharing ONE
    * range-partitioned sort (e.g. the per-cohort cumulative counts a KS
    * test walks in lockstep): each `valueCols(i)` gets its inclusive
    * prefix sum as `cumCols(i)`. Same two-level shape — per-partition
    * totals (one tiny row per partition) to the driver, running sums
    * seeded by partition offsets — so nothing serializes through one
    * task and the sort is paid once, not once per column. */
  def globalCumSums(df: DataFrame, order: Seq[Column], valueCols: Seq[Column],
      cumCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty && valueCols.size == cumCols.size,
      s"need matching value/cum columns: ${valueCols.size}/${cumCols.size}")
    val k = valueCols.size
    val tmpNames = valueCols.indices.map(i => s"_gcs_v$i")
    val withV = valueCols.zip(tmpNames).foldLeft(df) { case (d, (c, n)) =>
      d.withColumn(n, coalesce(c.cast("long"), lit(0L)))
    }
    val sorted = pinnedRangeSort(withV, order)
    val vIdx = tmpNames.map(sorted.schema.fieldIndex)
    // InternalRow passes over the pinned blocks — see [[globalRowNumber]]
    val sums = sorted.queryExecution.toRdd
      .mapPartitionsWithIndex { case (i, it) =>
        val s = new Array[Long](k)
        it.foreach { r => var j = 0; while (j < k) { s(j) += r.getLong(vIdx(j)); j += 1 } }
        Iterator((i, s))
      }
      .collect()
      .sortBy(_._1)
    val offsets = sums.map(_._2).scanLeft(new Array[Long](k)) { (acc, s) =>
      Array.tabulate(k)(j => acc(j) + s(j))
    }
    val schema = StructType(sorted.schema.fields ++
      cumCols.map(StructField(_, LongType, nullable = false)))
    val withCum = sorted.queryExecution.toRdd.mapPartitionsWithIndex { case (i, it) =>
      val c = offsets(i).clone()
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val extra = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(k)
      it.map { row =>
        var j = 0
        while (j < k) { c(j) += row.getLong(vIdx(j)); extra.update(j, c(j)); j += 1 }
        // the scan node materializes each emitted view to UnsafeRow before
        // the next row mutates c/extra (RDDScanExec re-projection contract)
        joined(row, extra): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    org.apache.spark.sql.graftbridge.SqlBridge
      .internalDf(df.sparkSession, withCum, schema).drop(tmpNames: _*)
  }

  /** Exact PER-GROUP running minimum of a long column in a total order,
    * WITHOUT a per-group window: unlike a prefix SUM, a prefix MIN cannot
    * be rebuilt by subtracting a group base, so the two-level shape
    * carries group-aware seeds instead. Rows are range-partitioned on
    * (group ++ order) — every group occupies a CONTIGUOUS run of
    * partitions, so only a partition's FIRST and LAST group can span a
    * boundary. Pass 1 emits one tiny summary per partition (first/last
    * group key + their in-partition minima); the driver chains them in
    * partition order into a seed for each partition's first group —
    * O(partitions) driver data regardless of group count. Pass 2 walks
    * each partition with the seeded running min, resetting at group
    * changes. Groups wholly inside one partition never touch the driver.
    *
    * This is the missing primitive behind sequential per-group scans
    * (CUSUM excursions, drawdowns): with it they run intra-group
    * parallel even when a handful of groups span the fact table.
    *
    * CONTRACT: `valueCol` must be non-null (a null has no defined place
    * in a running minimum). Pass 1 enforces it with a named error —
    * pre-filter or `coalesce` upstream (cusumWide does). */
  def groupedRunningMin(df: DataFrame, groupNames: Seq[String],
      order: Seq[Column], valueCol: Column, outCol: String): DataFrame = {
    // value type: DECIMAL passes through untouched (the exact path for
    // cross products like cusumWide's n·s_i, which overflow int64 at the
    // fat-group scale this primitive exists for); anything else keeps the
    // original long contract. Both surface as Comparable in the Row API.
    val typed = df.withColumn("_grm_v", valueCol)
    val withV = typed.schema("_grm_v").dataType match {
      case _: org.apache.spark.sql.types.DecimalType => typed
      case _ => df.withColumn("_grm_v", valueCol.cast("long"))
    }
    val sorted = pinnedRangeSort(withV, order)
    val gIdx = groupNames.map(sorted.schema.fieldIndex)
    val vIdx = sorted.schema.fieldIndex("_grm_v")
    val vType = sorted.schema(vIdx).dataType
    val gTypes = gIdx.map(sorted.schema(_).dataType)
    // InternalRow passes over the pinned blocks (see [[globalRowNumber]]);
    // group keys surface as UTF8String/Long/… — content-equality types, so
    // the Seq comparison semantics are unchanged from the external-Row days
    def keyOf(r: org.apache.spark.sql.catalyst.InternalRow): Seq[Any] =
      gIdx.zip(gTypes).map { case (i, dt) => r.get(i, dt) }
    // rows from toRdd may be a REUSED projection buffer (RDDScanExec), so a
    // key held ACROSS rows must own its bytes — UTF8String is a view into
    // the row; primitives/Decimal arrive as fresh boxes and need no copy
    def ownKey(k: Seq[Any]): Seq[Any] = k.map {
      case u: org.apache.spark.unsafe.types.UTF8String => u.copy()
      case other => other
    }
    // the running-min VALUE is held across rows (and, via pass 1's summary,
    // across the driver-side seed chain) exactly like the keys — a
    // UTF8String value would otherwise be a live view into the reused
    // projection buffer and silently corrupt the carried minimum
    // (ADVICE r16). Primitives/Decimal arrive as fresh boxes; only
    // buffer-backed types need ownership.
    def ownVal(v: Comparable[Any]): Comparable[Any] = (v: Any) match {
      case u: org.apache.spark.unsafe.types.UTF8String =>
        u.copy().asInstanceOf[Comparable[Any]]
      case _ => v
    }
    // running minima carry as Comparable; null = "no value yet" (+inf)
    def lessThan(a: Comparable[Any], b: Comparable[Any]): Boolean =
      b == null || a.compareTo(b) < 0
    // pass 1: (pid, firstKey, lastKey, minOfLastGroup) — the carry chain
    // below only ever consumes LAST-group minima (a group spanning
    // partitions is, by contiguity, the last group of every partition it
    // enters except possibly the one it ends in)
    val summaries = sorted.queryExecution.toRdd
      .mapPartitionsWithIndex { case (i, it) =>
        if (!it.hasNext) Iterator.empty
        else {
          var firstKey: Seq[Any] = null
          var curKey: Seq[Any] = null
          var curMin: Comparable[Any] = null
          it.foreach { r =>
            val k = keyOf(r)
            if (curKey == null) { firstKey = ownKey(k); curKey = firstKey }
            else if (k != curKey) { curKey = ownKey(k); curMin = null }
            // non-null contract enforced here (pass 1 sees every row first):
            // a null has no place in a running MIN, and silently skipping or
            // zeroing it would corrupt excursions — fail with the operator name
            if (r.isNullAt(vIdx)) throw new IllegalArgumentException(
              s"groupedRunningMin: null value for group $k — the value column must be non-null (pre-filter or coalesce upstream)")
            val v = r.get(vIdx, vType).asInstanceOf[Comparable[Any]]
            if (lessThan(v, curMin)) curMin = ownVal(v)
          }
          Iterator((i, firstKey, curKey, curMin))
        }
      }
      .collect()
      .sortBy(_._1)
    // driver chain: seed(pid) = min over PRIOR partitions of pid's first
    // group's values (only boundary-spanning groups carry state)
    val seeds = scala.collection.mutable.Map.empty[Int, Comparable[Any]]
    var carryKey: Seq[Any] = null
    var carryMin: Comparable[Any] = null
    summaries.foreach { case (pid, fk, lk, lmin) =>
      if (carryKey != null && fk == carryKey) seeds(pid) = carryMin
      // contiguity: lk == carryKey implies the carried group spans the
      // whole partition, so its in-partition min folds in; any other lk
      // starts a fresh carry
      if (carryKey != null && lk == carryKey) {
        if (lessThan(lmin, carryMin)) carryMin = lmin
      } else { carryKey = lk; carryMin = lmin }
    }
    val bc = df.sparkSession.sparkContext.broadcast(seeds.toMap)
    val schema = StructType(sorted.schema.fields :+
      StructField(outCol, vType, nullable = false))
    val withMin = sorted.queryExecution.toRdd.mapPartitionsWithIndex { case (i, it) =>
      val seed = bc.value.getOrElse(i, null)
      var curKey: Seq[Any] = null
      var curMin: Comparable[Any] = null
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val extra = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      it.map { r =>
        val k = keyOf(r)
        if (curKey == null) { curKey = ownKey(k); curMin = seed }
        else if (k != curKey) { curKey = ownKey(k); curMin = null }
        val v = r.get(vIdx, vType).asInstanceOf[Comparable[Any]]
        if (lessThan(v, curMin)) curMin = ownVal(v)
        extra.update(0, curMin)
        joined(r, extra): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    org.apache.spark.sql.graftbridge.SqlBridge
      .internalDf(df.sparkSession, withMin, schema).drop("_grm_v")
  }

  /** Exact top-k rows per key through the engine's CUSTOM PHYSICAL
    * OPERATOR ([[org.apache.spark.sql.graftbridge.TopKPerKeyNode]]):
    * two-phase bounded heaps (per-partition partial, key-clustered
    * final), so only `partitions × keys × k` candidate rows ever reach
    * the exchange — where the `row_number() OVER (...)  <= k` idiom
    * shuffles and sorts EVERY row. `order` ascending decides survivors
    * (negate/wrap for descending) and must be a total order per key. */
  def topKPerKey(df: DataFrame, keys: Seq[Column], order: Column,
      k: Int): DataFrame =
    org.apache.spark.sql.graftbridge.TopKPerKey(df, keys, order, k)

  /** Systematic (every-k-th) sampling in a total order — the stratified-
    * by-position design survey methodology prefers over Bernoulli when
    * the sort key carries structure (time, size, score): take rows whose
    * global 1-based rank satisfies `(rn − 1) % k == offset`. Rank comes
    * from [[globalRowNumber]] (range partition + per-partition offsets),
    * so no single-task window exists at any scale; the sort key must be
    * a total order (pass a unique tiebreaker). */
  def systematicSample(df: DataFrame, order: Seq[Column], k: Int,
      offset: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(offset >= 0 && offset < k, s"offset must be in [0,$k): $offset")
    globalRowNumber(df, order, "_ssrn")
      .filter((col("_ssrn") - 1L) % k === offset)
      .drop("_ssrn")
  }

  /** Deterministic per-row-rate Bernoulli — the corpus-MIXING primitive: a
    * row survives iff its key's md5 bucket (out of 10000) falls below
    * floor(rate·10000). Same portable-hash contract as
    * [[stratifiedHashSample]], but the rate is a column expression, so
    * mixture weights can live in a control table and arrive by broadcast
    * join instead of a static map. Nested samples: lowering a rate always
    * yields a subset of the higher-rate sample. No shuffle. */
  def weightedHashSample(df: DataFrame, keyCol: Column, rateCol: Column): DataFrame = {
    val bucket = graft.functions.TextFunctions.portableBucket(keyCol, 10000L)
    // clamp to [0,1]: a rate > 1 keeps everything (not silently), < 0 or
    // NULL keeps nothing — same contract stratifiedHashSample enforces
    // via require, expressed per-row because the rate is data here
    val rate = coalesce(least(greatest(rateCol, lit(0.0)), lit(1.0)), lit(0.0))
    df.filter(bucket < floor(rate * 10000).cast("long"))
  }

  /** Deterministic weighted sample WITHOUT replacement (k rows, inclusion
    * probability increasing in weight) — the Efraimidis–Spirakis scheme by
    * exponential race: each row draws `u` from its key's md5 (uniform on
    * (0,1], pure function of the key — reproducible across runs, engines,
    * and partitionings), keys score `-ln(u)/w`, and the k smallest scores
    * win. Higher weight ⇒ stochastically smaller exponential ⇒ more likely
    * selected; the tail beyond `u`'s 32-bit resolution is immaterial for
    * ranking. Rows with weight ≤ 0 or NULL never win (they'd need an
    * infinite rate).
    *
    * Shape: a per-row projection plus a global top-k — per-partition
    * heaps merged at the driver (TakeOrderedAndProject), never a full
    * sort; nothing else moves. The corpus-curation use: sample training
    * documents proportional to a quality score, reproducibly. */
  def weightedPrioritySample(df: DataFrame, keyCol: Column,
      weightCol: Column, k: Int): DataFrame = {
    require(k > 0, "sample size must be positive")
    val h = conv(substring(md5(keyCol.cast("string")), 1, 8), 16, 10)
      .cast("long")
    val u = (h + lit(1.0)) / lit(4294967296.0)
    df.filter(weightCol.isNotNull && weightCol > 0)
      .withColumn("_wps_key", -log(u) / weightCol.cast("double"))
      .orderBy(col("_wps_key"))
      .limit(k)
      .drop("_wps_key")
  }

  /** Deterministic stratified sample — per-stratum keep fractions with the
    * same portable-hash assignment as [[hashSplit]]: a row survives iff its
    * key's md5 bucket (out of 10000) falls under its stratum's fraction.
    * Rebalancing skewed strata (downsample the web crawl, keep all of the
    * curated set) is the training-data staple; hash determinism means the
    * sample is stable across runs/engines/partitionings and adding data
    * never flips an existing row. Strata absent from `fractions` drop.
    * No shuffle: a per-row projection + filter. */
  def stratifiedHashSample(
      df: DataFrame, keyCol: Column, strataCol: Column,
      fractions: Map[String, Double]): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1),
      s"fractions must be in [0,1]: $fractions")
    val bucket = graft.functions.TextFunctions.portableBucket(keyCol, 10000L)
    val cut = fractions.foldLeft(lit(-1L): Column) { case (acc, (k, f)) =>
      when(strataCol === k, lit(math.round(f * 10000).toLong)).otherwise(acc)
    }
    df.filter(bucket < cut)
  }

  /** Hash-partition on a subset of key fields (KeyFieldBasedPartitioner
    * parity, reference: .../lib/partition/KeyFieldBasedPartitioner.java:51):
    * co-locates rows sharing the subset while the full key stays free for
    * in-partition ordering. */
  def partitionByKeyFields(df: DataFrame, n: Int, fields: Seq[Column]): DataFrame =
    df.repartition(n, fields: _*)

  /** Hash-partition on a byte/char range of a serialized key
    * (BinaryPartitioner parity, reference:
    * .../lib/partition/BinaryPartitioner.java:71). */
  def partitionByKeySlice(df: DataFrame, n: Int, key: Column,
      from: Int, len: Int): DataFrame =
    df.repartition(n, substring(key.cast("string"), from, len))

  /** Exactly-N-rows-per-task repartition (NLineInputFormat parity,
    * reference: .../lib/input/NLineInputFormat.java:61). Counts once —
    * use only when task granularity really must be row-exact. */
  def nlineRepartition(df: DataFrame, rowsPerPartition: Long): DataFrame = {
    val n = math.max(1L, (df.count() + rowsPerPartition - 1) / rowsPerPartition)
    df.repartition(n.toInt)
  }
}
