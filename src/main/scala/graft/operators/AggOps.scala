package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Aggregation operators (SURVEY §2.6): the reference's ValueAggregator
  * framework re-expressed as `groupBy(...).agg(...)` column sets. Partial
  * (map-side) aggregation is automatic via Catalyst's partial/final
  * HashAggregate split — the reference's combiner for free.
  *
  * Numeric policy for oracle parity: double inputs are cast to a fixed-scale
  * decimal before SUM (exact, order-independent), then the total is cast
  * back to double. Floating-point sums of shuffled partials are NOT
  * deterministic across engines; exact decimal accumulation is.
  *
  * Precision 18 is deliberate: Spark's Decimal stays long-backed ("compact")
  * at precision <= 18, and the compact add fast-path makes decimal SUM ~2.2x
  * faster than precision 20 (which boxes every value into BigDecimal). The
  * sum BUFFER widens to precision+10 = 28 automatically, so totals up to
  * 10^22 are exact; only the per-row value must fit 12 integer digits —
  * ample for any measure column (prices, quantities, ratios).
  */
object AggOps {

  private val Dec = DecimalType(18, 6)

  /** Exact, order-independent sum of a double column, returned as double.
    *
    * Bound (non-ANSI mode): a per-row |value| >= 1e12 overflows the cast to
    * NULL and silently drops out of the sum. Fine for TPC-H-style measures;
    * when ingesting unvetted columns pair with [[sumOverflowCount]] as a
    * debug assertion. */
  def sumExact(c: Column): Column = sum(c.cast(Dec)).cast("double")

  /** Debug assertion companion for [[sumExact]]: the number of non-null
    * inputs whose decimal(18,6) cast overflowed to NULL (i.e. rows silently
    * excluded from sumExact). 0 means the sum is exact. */
  def sumOverflowCount(c: Column): Column =
    count(when(c.isNotNull && c.cast(Dec).isNull, 1))

  /** Mean via exact sum / count (both engines do the same double division). */
  def avgExact(c: Column): Column = sumExact(c) / count(c)

  /** The reference's aggregator-descriptor set
    * (LongValueSum/DoubleValueSum/Max/Min/StringValueMax/Min, reference:
    * hadoop-mapreduce-client-core .../lib/aggregate/ValueAggregatorBaseDescriptor.java:39-53)
    * as one multi-aggregate: one pass, many aggregates — same shape as
    * ValueAggregatorJob (reference: .../lib/aggregate/ValueAggregatorJob.java:85). */
  def descriptorAggs(value: Column): Seq[Column] = Seq(
    sumExact(value).as("sum_value"),
    min(value).as("min_value"),
    max(value).as("max_value"),
    count(lit(1)).as("cnt"))

  /** UniqValueCount parity: distinct count capped at `cap` (the reference
    * truncates its item set at maxNumItems, reference:
    * .../lib/aggregate/UniqValueCount.java:35). Exact count then cap —
    * identical result, no unbounded set held per group. At 100TB swap in
    * approx_count_distinct via [[uniqApprox]]. */
  def uniqCapped(c: Column, cap: Int): Column =
    least(countDistinct(c), lit(cap.toLong))

  /** HLL variant for the same surface at scale. */
  def uniqApprox(c: Column, rsd: Double = 0.05): Column =
    approx_count_distinct(c, rsd)

  /** ValueHistogram parity, compositional form: per-key statistics over the
    * frequencies of distinct values (reference:
    * .../lib/aggregate/ValueHistogram.java:38). Two-level aggregation —
    * both levels get map-side partials, memory stays bounded per task, and
    * the whole thing is one shuffle on (key, value) + one on key: the
    * scalable formulation of the reference's in-reducer TreeMap. */
  def valueHistogram(df: DataFrame, key: Column, value: Column): DataFrame = {
    val freqs = df
      .groupBy(key.as("key"), value.as("value"))
      .agg(count(lit(1)).as("freq"))
    freqs
      .groupBy("key")
      .agg(
        count(lit(1)).as("n_distinct"),
        min("freq").as("min_freq"),
        round(expr("percentile(freq, 0.5)"), 6).as("median_freq"),
        max("freq").as("max_freq"),
        round(sum("freq").cast("double") / count(lit(1)), 6).as("mean_freq"),
        round(stddev_pop("freq"), 6).as("stddev_freq"))
  }

  /** Equi-depth histogram: bucket boundaries at the value column's own
    * quantiles, so every bucket holds ~n/buckets rows — the
    * length-distribution / feature-range analysis an unevenly distributed
    * corpus needs (equi-WIDTH buckets collapse under skew). Two passes:
    * one aggregation for the cut points (exact interpolated percentiles
    * here; swap `approx_percentile` at scales where exact is infeasible),
    * then a broadcast of the tiny cut array and one counting aggregation.
    * bucket k = number of cuts strictly below the value (ties go left). */
  def equiDepthHistogram(df: DataFrame, valueCol: String, buckets: Int): DataFrame = {
    require(buckets >= 2, s"need >= 2 buckets, got $buckets")
    val qs = (1 until buckets).map(i => i.toDouble / buckets)
    val cuts = df.agg(expr(
      s"percentile(`$valueCol`, array(${qs.mkString(",")}))").as("cuts"))
    df.select(col(valueCol).as("v"))
      .crossJoin(broadcast(cuts))
      .select(col("v"),
        size(filter(col("cuts"), c => c < col("v"))).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"),
        round(min(col("v")), 6).as("min_v"), round(max(col("v")), 6).as("max_v"))
  }

  /** Pearson correlation from exact-decimal moments: the five sums
    * accumulate exactly (order-independent), and only the final combination
    * runs in double — so the result is bit-stable across engines and
    * partitionings, unlike built-in `corr`'s streaming double updates.
    * Same per-row magnitude bound as [[sumExact]] applies to x·y and x². */
  def corrExact(x: Column, y: Column): Column = {
    val n = count(lit(1)).cast("double")
    val sx = sumExact(x); val sy = sumExact(y)
    val sxy = sumExact(x * y); val sxx = sumExact(x * x); val syy = sumExact(y * y)
    (n * sxy - sx * sy) /
      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
  }

  /** Per-group winsorization: clip a value column at the group's own
    * [lo, hi] exact interpolated percentiles — the outlier-taming step for
    * feature columns and length distributions (a both-tails variant of the
    * corpus quality filters). Two jobs: a per-group percentile aggregation
    * (K rows, broadcast), then a per-row projection — no window over the
    * data, so the fact table never shuffles. Adds `w_lo`/`w_hi` bounds and
    * `<valueCol>_w` (the clipped value). A clipping operator must preserve
    * row count, so rows whose group key is null (no bounds can match a
    * null equi-join key) pass through UNCLIPPED instead of being dropped. */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 <= lo < hi <= 1: $lo, $hi")
    // array-form percentile: one sort buffer serves both bounds
    val bounds = df.groupBy(groupCol)
      .agg(expr(s"percentile(`$valueCol`, array($lo, $hi))").as("_wb"))
      .select(col(groupCol), element_at(col("_wb"), 1).as("w_lo"),
        element_at(col("_wb"), 2).as("w_hi"))
    df.join(broadcast(bounds), Seq(groupCol), "left")
      .withColumn(s"${valueCol}_w",
        when(col("w_lo").isNull, col(valueCol))
          .otherwise(least(greatest(col(valueCol), col("w_lo")), col("w_hi"))))
  }

  /** Balanced inverse-frequency class weights, w_c = N / (K · n_c) — the
    * loss-weighting companion to a skewed labeled set. One aggregation over
    * the corpus; the unpartitioned window then runs over K label rows only.
    * The ratio stays UNROUNDED: identical integer operands divide to the
    * same IEEE double in every engine, while rounding a boundary double
    * does not survive engine hops. */
  def classWeights(df: DataFrame, labelCol: Column): DataFrame = {
    val counts = df.groupBy(labelCol.as("label")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    counts
      .withColumn("weight",
        sum(col("n")).over(w).cast("double") /
          (count(lit(1)).over(w) * col("n")))
      .select(col("label"), col("n"), col("weight"))
  }

  /** Exact heavy hitters (items with frequency strictly above n/k) via a
    * distributed Misra–Gries pre-pass.
    *
    * Pass 1 runs an MG summary of capacity k inside each partition — the
    * classic guarantee (every item with local count > n_p/(cap+1) survives)
    * plus pigeonhole over partitions means the UNION of per-partition
    * survivors is a superset of every global heavy hitter. That union is
    * driver-sized by construction (≤ k keys per partition regardless of
    * cardinality), so collecting it is bounded — the point at 100 TB, where
    * `groupBy(key).count()` would shuffle the full distinct-key set just to
    * discard almost all of it.
    *
    * Pass 2 recounts ONLY candidate-key rows (broadcast inner join prunes
    * at the scan) and keeps freq·k > n — an all-integer comparison, so the
    * threshold has no floating-point boundary and the result is EXACT: the
    * true heavy hitters with true counts, not an approximation.
    *
    * Null keys count toward n (they dilute frequencies like any row) but
    * are never candidates — a null "item" is not a reportable value. */
  def heavyHitters(df: DataFrame, key: Column, k: Int): DataFrame = {
    require(k >= 2, s"heavy-hitter k must be >= 2, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val keys = df.select(key.cast("string").as("k")).as[String]
    // each partition emits (null, rowCount) + its ≤ k surviving keys
    val summary = keys.mapPartitions { it =>
      val counters = new java.util.HashMap[String, Long](k * 2)
      var np = 0L
      it.foreach { kv =>
        np += 1
        if (kv != null) {
          val cur = counters.get(kv)
          if (cur != 0L) counters.put(kv, cur + 1)
          else if (counters.size < k) counters.put(kv, 1L)
          else {
            val e = counters.entrySet().iterator()
            while (e.hasNext) {
              val en = e.next()
              if (en.getValue == 1L) e.remove() else en.setValue(en.getValue - 1L)
            }
          }
        }
      }
      import scala.jdk.CollectionConverters._
      Iterator.single((null: String, np)) ++
        counters.keySet().iterator().asScala.map(kk => (kk, 0L))
    }.collect()
    val n = summary.collect { case (null, np) => np }.sum
    val candidates = summary.collect { case (kk, _) if kk != null => kk }.distinct.toSeq
    val cand = broadcast(candidates.toDF("k"))
    keys.toDF("k").join(cand, "k")
      .groupBy("k").agg(count(lit(1)).as("freq"))
      .filter(col("freq") * k > n)
  }

  /** Mergeable per-key aggregation state — the incremental-aggregation
    * primitive: reduce each ingest batch to a small state table once, then
    * combine state tables associatively instead of ever re-scanning raw
    * history. `(cnt, sum_dec, min_v, max_v)` is closed under merge (counts
    * add, exact decimal sums add, min/max fold), so
    * `mergeStats(partialStats(A), partialStats(B)) ==
    * partialStats(A ∪ B)` exactly — the same partial/final split Catalyst
    * applies inside one job, lifted across jobs/days/backfills. Keys keep
    * their caller-facing names; the four state columns are reserved.
    *
    * Scale: each batch shuffles once on its keys at ingest time; a merged
    * rollup over N batches shuffles only N state tables (|keys| rows each),
    * never the raw corpus. The decimal sum keeps the merged total exact and
    * order-independent, so re-merging in any order is bit-stable. */
  def partialStats(df: DataFrame, keyCols: Seq[Column], valueCol: Column): DataFrame =
    df.groupBy(keyCols: _*).agg(
      count(valueCol).as("cnt"),
      sum(valueCol.cast(Dec)).as("sum_dec"),
      min(valueCol).as("min_v"),
      max(valueCol).as("max_v"))

  /** Associative combine of [[partialStats]] state tables (any count, any
    * order). Every non-state column is treated as a key. */
  def mergeStats(states: Seq[DataFrame]): DataFrame = {
    require(states.nonEmpty, "mergeStats: no states")
    val stateCols = Set("cnt", "sum_dec", "min_v", "max_v")
    val unioned = states.reduce(_ unionByName _)
    val keys = unioned.columns.filterNot(stateCols).map(col).toSeq
    unioned.groupBy(keys: _*).agg(
      sum(col("cnt")).as("cnt"),
      sum(col("sum_dec")).as("sum_dec"),
      min(col("min_v")).as("min_v"),
      max(col("max_v")).as("max_v"))
  }

  /** Release a [[partialStats]]/[[mergeStats]] state table as final
    * aggregates: exact sum and mean as doubles, min/max verbatim (the
    * state keeps its decimal sum so further merges stay exact; this is the
    * read-side projection). */
  def finalizeStats(state: DataFrame): DataFrame = {
    val stateCols = Set("cnt", "sum_dec", "min_v", "max_v")
    val keys = state.columns.filterNot(stateCols).map(col).toSeq
    state.select(keys ++ Seq(
      col("cnt"),
      col("sum_dec").cast("double").as("sum_v"),
      col("min_v"), col("max_v"),
      (col("sum_dec").cast("double") / col("cnt")).as("avg_v")): _*)
  }

  /** Signed-delta refresh of a (cnt, sum_dec) aggregate state — the
    * AGGREGATE half of retraction IVM ([[graft.operators.JoinOps
    * .joinDeltaSigned]] is the join half): a delta batch carries
    * `signCol` (+1 insert, −1 delete); per key, counts add `Σ sign`
    * (null values contribute 0, matching `count(value)`), exact decimal
    * sums add `Σ sign·value`, and keys whose count nets to zero LEAVE
    * the view. The state is the (cnt, sum_dec) subset of
    * [[partialStats]] — min/max are deliberately NOT maintained here
    * because they are not retraction-closed (deleting the current min
    * forces a per-key rescan), the standard IVM boundary; track them
    * with a full [[partialStats]] re-merge or a per-key heap service.
    *
    * Invariant (the gate's check): refreshing incrementally equals
    * recomputing the state from the post-delta base. Scale: the delta
    * pre-aggregates map-side to |touched keys| rows before touching the
    * state table — refresh cost tracks the batch. */
  def statsDeltaSigned(state: DataFrame, delta: DataFrame,
      keyCols: Seq[Column], valueCol: Column, signCol: Column): DataFrame = {
    // key columns are inferred downstream as "everything not named like
    // state" — a key that RESOLVES to a reserved state name would be
    // silently dropped from the keys and folded as state, corrupting the
    // refresh with no error. Fail loudly instead.
    val reserved = Set("cnt", "sum_dec", "min_v", "max_v")
    val collisions = delta.select(keyCols: _*).columns.filter(reserved)
    require(collisions.isEmpty,
      s"statsDeltaSigned: key column(s) ${collisions.mkString(", ")} collide " +
        s"with reserved state names ${reserved.mkString("/")} — alias them first")
    val d = delta.groupBy(keyCols: _*).agg(
      sum(when(valueCol.isNotNull, signCol.cast("long")).otherwise(0L))
        .as("cnt"),
      sum(valueCol.cast(Dec) * signCol.cast(Dec)).as("sum_dec"))
    // accept a full partialStats state too: min_v/max_v are dropped (not
    // retraction-closed), never mistaken for keys
    val stateCols = Set("cnt", "sum_dec", "min_v", "max_v")
    val unioned = state.select(
      state.columns.filterNot(stateCols).map(col) :+
        col("cnt") :+ col("sum_dec"): _*).unionByName(d)
    val keys = unioned.columns.filterNot(stateCols).map(col).toSeq
    unioned.groupBy(keys: _*).agg(
      sum(col("cnt")).as("cnt"),
      sum(col("sum_dec")).as("sum_dec"))
      .filter(col("cnt") =!= 0)
  }

  /** Mergeable distinct-count state — the approximate companion to
    * [[partialStats]]: each batch reduces to one DataSketches HLL sketch
    * per key (a few KB regardless of input size), and sketches union
    * associatively, so "distinct users ever" maintains incrementally
    * without re-scanning history — the cross-batch form of
    * [[uniqApprox]]. State column `hll` is the sketch binary. */
  def hllState(df: DataFrame, keyCols: Seq[Column], valueCol: Column): DataFrame =
    df.groupBy(keyCols: _*)
      .agg(hll_sketch_agg(valueCol.cast("string")).as("hll"))

  /** Associative union of [[hllState]] tables; every non-`hll` column is a
    * key. Shuffles |keys|-row state tables, never raw history. */
  def hllMerge(states: Seq[DataFrame]): DataFrame = {
    require(states.nonEmpty, "hllMerge: no states")
    val unioned = states.reduce(_ unionByName _)
    val keys = unioned.columns.filterNot(_ == "hll").map(col).toSeq
    unioned.groupBy(keys: _*).agg(hll_union_agg(col("hll")).as("hll"))
  }

  /** Read a merged [[hllState]] as distinct-count estimates. */
  def hllEstimate(state: DataFrame): DataFrame = {
    val keys = state.columns.filterNot(_ == "hll").map(col).toSeq
    state.select(keys :+ hll_sketch_estimate(col("hll")).as("est_ndv"): _*)
  }

  /** KMV (k-minimum-values) distinct-count sketch per group — the
    * order-statistics alternative to HLL (Bar-Yossef et al.): hash every
    * distinct element uniformly, keep the k SMALLEST hashes; with h(k)
    * the k-th smallest as a fraction of the hash space, the unbiased
    * estimate is `(k−1)/h(k)`. Groups with fewer than k distinct values
    * report exactly (the sketch holds them all). Unlike HLL the summary
    * is trivially mergeable AND the estimate is an exact deterministic
    * function of the input set given the hash — any engine replays it
    * bit-for-bit, which is why the oracle can hash-match an
    * "approximate" count. Hash = top 60 bits of md5, the repo's standard
    * seeded-hash discipline.
    *
    * Emits `(k, n_kept, est_distinct)`. Scale: distinct is one shuffle
    * on (group, value) with map-side partials; the k-smallest pick is a
    * per-group window over at most the distinct set, then a 1-row-per-
    * group fold. At 100 TB swap the window for the mergeable
    * union-and-trim fold if groups' distinct sets are huge; the sketch
    * semantics are identical. */
  def kmvDistinct(df: DataFrame, groupCol: Column, valueCol: Column,
      k: Int, seed: String): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    import org.apache.spark.sql.expressions.Window
    val HashSpace = math.pow(2.0, 60)
    val hashed = df.select(groupCol.as("k"), valueCol.cast("string").as("_v"))
      .filter(col("_v").isNotNull)
      .distinct()
      .withColumn("_h",
        conv(substring(md5(concat_ws("|", lit(seed), col("_v"))), 1, 15),
          16, 10).cast("long"))
    val w = Window.partitionBy("k").orderBy(col("_h"), col("_v"))
    hashed
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .groupBy("k")
      .agg(count(lit(1)).as("n_kept"), max(col("_h")).as("_hk"))
      .withColumn("est_distinct",
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(floor(lit((k - 1).toDouble) * lit(HashSpace)
            / col("_hk") + 0.5).cast("long")))
      .select(col("k"), col("n_kept"), col("est_distinct"))
  }

  /** KMV sketch ALGEBRA — pairwise set-overlap estimates between groups,
    * from the same k-minimum-values summaries as [[kmvDistinct]]: for
    * each group pair, the k smallest hashes of the sketch UNION estimate
    * `|A∪B|`, the fraction of that k-min set present in BOTH sketches
    * estimates Jaccard, and their product estimates `|A∩B|` — the
    * classic KMV intersection trick, all without ever touching the raw
    * sets again. This is the point of mergeable sketches: cross-segment
    * audience overlap over 100 TB compares k-row summaries, not data.
    *
    * When the union sketch holds fewer than k hashes, every quantity is
    * EXACT (the sketches are complete sets). Deterministic given (seed,
    * k) — the oracle replays it hash-for-hash. Emits
    * `(ga, gb, n_common, jaccard_e6, est_union, est_inter)` per
    * unordered group pair.
    *
    * Scale: sketch rows are |groups|·k; the pair stage is a self-join on
    * that summary table (broadcast-sized for any real group count), not
    * on the data. */
  def kmvOverlap(df: DataFrame, groupCol: Column, valueCol: Column,
      k: Int, seed: String): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    import org.apache.spark.sql.expressions.Window
    val HashSpace = math.pow(2.0, 60)
    val hashed = df.select(groupCol.as("g"), valueCol.cast("string").as("_v"))
      .filter(col("_v").isNotNull)
      .distinct()
      .withColumn("_h",
        conv(substring(md5(concat_ws("|", lit(seed), col("_v"))), 1, 15),
          16, 10).cast("long"))
    val sk = hashed
      .withColumn("_rn", row_number().over(
        Window.partitionBy("g").orderBy(col("_h"), col("_v"))))
      .filter(col("_rn") <= k)
      .select(col("g"), col("_h"))
    val pairs = sk.select(col("g").as("ga")).distinct()
      .crossJoin(sk.select(col("g").as("gb")).distinct())
      .filter(col("ga") < col("gb"))
    val u = pairs.join(sk.select(col("g").as("ga"), col("_h")), Seq("ga"))
      .select(col("ga"), col("gb"), col("_h"))
      .unionAll(
        pairs.join(sk.select(col("g").as("gb"), col("_h")), Seq("gb"))
          .select(col("ga"), col("gb"), col("_h")))
      .groupBy("ga", "gb", "_h").agg(count(lit(1)).as("_sides"))
    u.withColumn("_rn", row_number().over(
        Window.partitionBy("ga", "gb").orderBy(col("_h"))))
      .filter(col("_rn") <= k)
      .groupBy("ga", "gb")
      .agg(count(lit(1)).as("_m"), max(col("_h")).as("_hk"),
        sum(when(col("_sides") === 2, 1L).otherwise(0L)).as("n_common"))
      .withColumn("est_union",
        when(col("_m") < k, col("_m"))
          .otherwise(floor(lit((k - 1).toDouble) * lit(HashSpace)
            / col("_hk") + 0.5).cast("long")))
      .withColumn("jaccard_e6",
        floor(col("n_common").cast("double") / col("_m") * 1e6 + 0.5)
          .cast("long"))
      .withColumn("est_inter",
        floor(col("n_common").cast("double") / col("_m") * col("est_union")
          + 0.5).cast("long"))
      .select(col("ga"), col("gb"), col("n_common"), col("jaccard_e6"),
        col("est_union"), col("est_inter"))
  }
}
