package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Distribution / hypothesis-test statistics over grouped data — the
  * "is this cohort different" toolkit a data-quality or experimentation
  * pipeline runs after the aggregation layer (reference precedent: the
  * aggregate-and-compare job shapes of MR-EX `WordMedian`/
  * `WordStandardDeviation`, extended to the inequality / rank-test /
  * time-series statistics the reference computes nowhere but any
  * 100 TB-scale analytics user needs).
  *
  * Shared determinism discipline (same as [[AggOps]]): exact sums go
  * through fixed-scale decimals, derived doubles round to 6 dp, every
  * per-row ordering has an explicit unique tiebreak — so results are
  * hash-comparable across engines and partitionings.
  *
  * Scale notes: every op here is one shuffle (groupBy or window over the
  * group key) on the grouped data; no op collects, no op is quadratic in
  * group size except where explicitly windowed to a bounded trailing k.
  */
object StatsOps {

  /** Gini coefficient per group — the standard inequality measure over a
    * non-negative value column, via the sorted-index identity
    * `G = (2·Σ i·x_i)/(n·Σx) − (n+1)/n` with x ascending, i = 1..n.
    * Ties are safe: tied x are equal, so Σ i·x_i is invariant to their
    * relative order. Sums are exact decimals; `gini` rounds to 6 dp.
    * Groups with zero total value are emitted with null gini (undefined).
    *
    * Scale: NOT a per-group rank window — few fat groups (25 nations over
    * 10⁹ customers) would serialize each group's sort into one task.
    * The sorted index instead derives from ONE range-partitioned total
    * order over (group, x) ([[SortOps.globalRowNumber]], intra-group
    * parallel): `i = rn − min_rn(group) + 1`, computed per row after a
    * group-base join, so the per-term product `i·x` — and therefore its
    * DECIMAL(28,6) quantization — is bit-identical to the windowed
    * formulation any oracle replays. */
  def gini(df: DataFrame, groupCols: Seq[Column], value: Column): DataFrame = {
    val keyed = df.select(groupCols :+ value.cast("double").as("_x"): _*)
      .filter(col("_x").isNotNull && col("_x") >= 0)
    val gNames = keyed.columns.dropRight(1)
    val ranked = SortOps.globalRowNumber(keyed,
      gNames.map(col) :+ col("_x"), "_rn")
    val gBase = ranked.groupBy(gNames.map(col): _*)
      .agg(min(col("_rn")).as("_g0"))
    // shuffle_hash: the group-base table is O(groups) — hash-building it
    // per partition skips the sort both SMJ sides would pay (the ranked
    // side is a LogicalRDD with unknown stats, so the planner can never
    // see this on its own); guide §3.1
    ranked.join(gBase.hint("shuffle_hash"), gNames.toSeq)
      .withColumn("_i", col("_rn") - col("_g0") + 1L)
      .groupBy(gNames.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col("_x").cast("decimal(28,6)")).as("_sx"),
        sum((col("_i") * col("_x")).cast("decimal(28,6)")).as("_six"))
      .withColumn("gini",
        when(col("_sx") > 0,
          round(lit(2.0) * col("_six").cast("double")
            / (col("n") * col("_sx").cast("double"))
            - (col("n") + lit(1.0)) / col("n"), 6)))
      .select(gNames.map(col) :+ col("n") :+ col("gini"): _*)
  }

  /** Trailing exponentially-weighted moving average per key: at each row,
    * `ewma = Σ_{j=0..k-1} (1−α)^j · x_{t−j} / Σ_{j} (1−α)^j` over the k
    * most recent rows (fewer at the head — the normalizer only counts
    * rows that exist, the standard `adjust=true` EWM). The bounded-k
    * formulation keeps the op a single fixed-width window — k lag() terms,
    * fully codegen'd, no recursion and no per-key state — and makes it
    * exactly replayable in any engine with LAG.
    *
    * Ordering is (ts, id) so duplicate timestamps are deterministic.
    * Scale: one window shuffle on the key; cost O(k) per row. SCALE
    * CONTRACT (per-key size): lag() needs each key's ordered neighbors in
    * one task — sized for many-series telemetry (keys to ~10⁷ rows), not
    * a handful of keys spanning the fact table (the [[cusum]] contract;
    * unlike rank/cumsum ops, a lag cannot be rebuilt from a group-base
    * subtraction — it would need boundary-row exchange). */
  def ewmaTrailing(df: DataFrame, key: Column, ts: Column, id: Column,
      value: Column, decay: BigDecimal, k: Int): DataFrame = {
    require(decay > 0 && decay < 1, s"decay must be in (0,1): $decay")
    require(k >= 1, s"k must be >= 1: $k")
    val base = df.select(key.as("k"), ts.as("t"), id.as("id"),
        value.cast("double").as("x"))
      .filter(col("x").isNotNull && col("t").isNotNull)
    val w = Window.partitionBy("k").orderBy(col("t"), col("id"))
    val terms = (0 until k).map { j =>
      val xj = lag(col("x"), j).over(w)
      // decay is a BigDecimal so (1−α)^j is computed EXACTLY in decimal
      // and only then rounded once to the nearest double — the same value
      // an engine parsing the literal "0.49" would use. math.pow would
      // drift a ulp per power and break cross-engine hash-compare.
      val wj = decay.pow(j).toDouble
      (when(xj.isNotNull, xj * lit(wj)).otherwise(lit(0.0)),
       when(xj.isNotNull, lit(wj)).otherwise(lit(0.0)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    base.withColumn("ewma", round(num / den, 6))
      .select(col("k"), col("t"), col("id"), col("x"), col("ewma"))
  }

  /** Lag-k autocorrelation per group: Pearson correlation between the
    * series and itself shifted by `lagK` rows, ordered by (ts, id).
    * Pearson r is invariant to the sample/population variance convention,
    * so any engine's corr() agrees; rounded to 6 dp. Pairs with a null
    * lagged value (the first lagK rows of each group) are excluded, the
    * standard convention. One window + one aggregation. Same
    * per-group-size SCALE CONTRACT as [[ewmaTrailing]] (lag-based
    * sequential scan per group). */
  def autocorr(df: DataFrame, groupCols: Seq[Column], ts: Column, id: Column,
      value: Column, lagK: Int): DataFrame = {
    require(lagK >= 1, s"lag must be >= 1: $lagK")
    val keyed = df.select(groupCols ++ Seq(ts.as("_t"), id.as("_id"),
      value.cast("double").as("_x")): _*)
    val gNames = keyed.columns.dropRight(3)
    val w = Window.partitionBy(gNames.map(col): _*)
      .orderBy(col("_t"), col("_id"))
    keyed
      .withColumn("_xl", lag(col("_x"), lagK).over(w))
      .filter(col("_xl").isNotNull && col("_x").isNotNull)
      .groupBy(gNames.map(col): _*)
      .agg(count(lit(1)).as("n_pairs"),
        round(corr(col("_x"), col("_xl")), 6).as("autocorr"))
  }

  /** CUSUM changepoint scan per group. With m = the group mean, the
    * cumulative deviation path `s_i = Σ_{j≤i} (x_j − m)` starts and ends
    * at 0; the classic CUSUM statistic is the largest upward excursion
    * `max_i (s_i − min_{j≤i} s_j)`, and its argmax row is the estimated
    * changepoint. Emits per group: `n`, `cusum` (6 dp), and
    * `change_idx` — the 1-based index of the FIRST row attaining the
    * max excursion (earliest-tiebreak, deterministic under (ts,id)
    * ordering).
    *
    * Two windows over the same (group, ts, id) sort — Spark reuses the
    * single sort — plus one aggregation; exact scaled-long running sums
    * so the argmax comparison is not float-order-dependent.
    *
    * SCALE CONTRACT (per-group size): the running-min excursion scan is
    * inherently sequential per group, and this implementation runs each
    * group's ordered pass in ONE task (a per-group window). It is sized
    * for many-series telemetry — groups up to ~10⁷ rows each — NOT for
    * a handful of groups spanning the whole fact table. (Unlike the
    * rank/cumsum ops converted to [[SortOps.globalRowNumber]] /
    * [[SortOps.globalCumSums]], the running min cannot be reconstructed
    * from a group-base subtraction.) For the fat-group shape use
    * [[cusumWide]] — identical released values on the boundary-carried
    * [[SortOps.groupedRunningMin]] scan; a ScaleSpec fat-group point
    * pins this split. */
  def cusum(df: DataFrame, groupCols: Seq[Column], ts: Column, id: Column,
      value: Column): DataFrame = {
    val keyed = df.select(groupCols ++ Seq(ts.as("_t"), id.as("_id"),
      // quantize to 1e-6 once, up front: ALL path arithmetic below is
      // then exact long math — no decimal-width negotiation, no float
      // summation-order sensitivity, identical in any engine.
      floor(value.cast("double") * 1e6 + 0.5).cast("long").as("_x")): _*)
      .filter(col("_x").isNotNull)
    val gNames = keyed.columns.dropRight(3)
    val g = gNames.map(col)
    val wOrd = Window.partitionBy(g: _*).orderBy(col("_t"), col("_id"))
    val wAll = Window.partitionBy(g: _*)
    keyed
      // mean-free scaled path: s_i = cum_i − i·mean; multiply by n to
      // stay integral: n·s_i = n·cum_i − i·total. Exact as long as
      // |Σx_e6|·n < 2⁶³ (caller's scale contract, ~9e18).
      .withColumn("_i", row_number().over(wOrd).cast("long"))
      .withColumn("_cum", sum(col("_x")).over(wOrd))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_tot", sum(col("_x")).over(wAll))
      .withColumn("_ns", col("_cum") * col("_n") - col("_tot") * col("_i"))
      .withColumn("_runmin", min(col("_ns")).over(wOrd))
      .withColumn("_exc", col("_ns") - col("_runmin"))
      .withColumn("_mx", max(col("_exc")).over(wAll))
      .filter(col("_exc") === col("_mx"))
      .groupBy(g: _*)
      .agg(max(col("_n")).as("n"), max(col("_mx")).as("_mxv"),
        min(col("_i")).as("change_idx"))
      .withColumn("cusum",
        round(col("_mxv").cast("double") / (col("n") * lit(1e6)), 6))
      .select(g :+ col("n") :+ col("cusum") :+ col("change_idx"): _*)
  }

  /** [[cusum]] re-expressed for WIDE groups — the scalable formulation
    * for the few-fat-groups shape the windowed form's contract excludes:
    * identical semantics and released values (the gate shares cusum's
    * oracle), but every sequential piece runs on a two-level
    * range-partition template — row index and prefix sum from ONE
    * [[SortOps.globalCumSums]] pass, the running-min excursion from
    * [[SortOps.groupedRunningMin]]'s boundary-carried scan — so the
    * whole path is intra-group parallel, and the earliest-argmax release
    * is one min_by aggregation. Costs two sorted passes against the
    * windowed form's one; both formulations exist deliberately (pick by
    * group shape, same numbers either way). */
  def cusumWide(df: DataFrame, groupCols: Seq[Column], ts: Column,
      id: Column, value: Column): DataFrame = {
    val keyed = df.select(groupCols ++ Seq(ts.as("_t"), id.as("_id"),
      floor(value.cast("double") * 1e6 + 0.5).cast("long").as("_x")): _*)
      .filter(col("_x").isNotNull)
    val gNames = keyed.columns.dropRight(3)
    val g = gNames.map(col)
    val order = g ++ Seq(col("_t"), col("_id"))
    val cum = SortOps.globalCumSums(keyed, order,
      Seq(lit(1L), col("_x")), Seq("_grn", "_gcx"))
    // group bases: first row's exclusive prefixes (the row with min _grn)
    val gStats = cum.groupBy(g: _*).agg(
      count(lit(1)).as("_n"), sum(col("_x")).as("_tot"),
      min(col("_grn")).as("_g0"),
      min_by(col("_gcx") - col("_x"), col("_grn")).as("_cb"))
    val ns = cum.join(gStats, gNames.toSeq)
      .withColumn("_i", col("_grn") - col("_g0") + 1L)
      .withColumn("_cum", col("_gcx") - col("_cb"))
      // n·s_i = n·cum_i − tot·i carried in DECIMAL(38,0): the cross
      // products are ~n²·x̄·1e6, which silently wraps int64 for groups
      // well under the 10⁹-row fat-group target this formulation exists
      // for (n~1e7 of 1e2-scale values already overflows), while the
      // oracle sums in 128-bit — decimal keeps both sides exact.
      // groupedRunningMin passes decimals through untouched.
      .withColumn("_ns",
        col("_cum").cast("decimal(19,0)") * col("_n")
          - col("_tot").cast("decimal(19,0)") * col("_i"))
    val rm = SortOps.groupedRunningMin(ns, gNames, order, col("_ns"), "_runmin")
    // groupedRunningMin pinned its own sorted input EAGERLY (lineage
    // truncated there), so cum's pinned blocks are now unreachable from
    // the result — free them here instead of waiting for the session sweep
    graft.core.Checkpoints.releaseLineage(cum)
    rm.withColumn("_exc", col("_ns") - col("_runmin"))
      .groupBy(g: _*)
      .agg(max(col("_n")).as("n"), max(col("_exc")).as("_mxv"),
        min_by(col("_i"), struct((-col("_exc")).as("_ne"), col("_i")))
          .as("change_idx"))
      .withColumn("cusum",
        round(col("_mxv").cast("double") / (col("n") * lit(1e6)), 6))
      .select(g :+ col("n") :+ col("cusum") :+ col("change_idx"): _*)
  }

  /** Mann-Whitney U rank test between two cohorts per group — the
    * non-parametric cohort-difference test (experimentation's workhorse
    * when values are skewed and the t/z-test's normality is implausible).
    * Average ranks over the pooled sample (midrank ties), tie-corrected
    * normal approximation:
    * `U = R₁ − n₁(n₁+1)/2`,
    * `σ² = n₁n₂/12 · ((n+1) − Σ(t³−t)/(n(n−1)))`,
    * `z = (U − n₁n₂/2)/σ`.
    * Cohort membership is `cohortA` (boolean column); emits per group:
    * n_a, n_b, u (double), z (6 dp). Midranks use the rank identity
    * `midrank = rank + (ties−1)/2` — carried DOUBLED as a long
    * (`2·midrank = 2·rank + t − 1`) so the rank sum is exact integer
    * math (a float sum of 10⁴ midranks ~1e8 has enough order-dependent
    * error to flip the 6-dp rounding; the doubled-integer form cannot).
    *
    * Scale: the midrank map derives at the (group, value) grain from ONE
    * range-partitioned total order ([[SortOps.globalRowNumber]], the
    * [[spearman]] discipline): min-rank of a value block is
    * `v0 − g0 + 1`, ties its block count — never a per-group rank
    * window, which would sort each fat cohort group in a single task.
    * Rows join their (group, value) midranks back; every stage is
    * intra-group parallel. */
  def mannWhitneyU(df: DataFrame, groupCols: Seq[Column], cohortA: Column,
      value: Column): DataFrame = {
    val keyed = df.select(groupCols ++ Seq(cohortA.as("_a"),
      value.cast("double").as("_x")): _*)
      .filter(col("_x").isNotNull && col("_a").isNotNull)
    val gNames = keyed.columns.dropRight(2)
    val g = gNames.map(col)
    // value-collapsed midrank build (the [[spearman]] mr2Map identity):
    // counts collapse to (group, value) BEFORE the range sort — the pinned
    // sort holds one row per distinct value and the old post-sort
    // row-grain collapse shuffle disappears; 2p + t − 1 = 2(S − B) − t + 1
    // with S the (g,x)-ordered inclusive count cumsum and B the group's
    // prior-row count (min of S − t). Exact longs, same values.
    val cnt = keyed.groupBy(g :+ col("_x"): _*)
      .agg(count(lit(1)).as("_ties"))
    val cum = SortOps.globalCumSum(cnt, g :+ col("_x"), col("_ties"), "_s")
    val gBase = cum.groupBy(g: _*).agg(min(col("_s") - col("_ties")).as("_b"))
    val mr = cum.join(gBase.hint("shuffle_hash"), gNames.toSeq)
      .select(g ++ Seq(col("_x"),
        (lit(2L) * (col("_s") - col("_b")) - col("_ties") + lit(1L))
          .as("_mr2"), col("_ties")): _*)
    // NO hash hint here: the midrank map collapses by VALUE, and this
    // operator's typical value column (a continuous measurement) barely
    // collapses — the map is probe-sized, and an A/B showed hash-building
    // it losing to the sort (1.18x); SMJ stays
    keyed
      .join(mr, gNames.toSeq :+ "_x")
      .groupBy(g: _*)
      .agg(
        sum(when(col("_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("_a"), col("_mr2")).otherwise(0L)).as("_r1x2"),
        // Σ(t³−t) counted once per tie-group: each row contributes
        // (t³−t)/t = t²−1, summing to t·(t²−1) = t³−t per group of t.
        sum(col("_ties") * col("_ties") - 1L).as("_tieadj"),
        count(lit(1)).as("_n"))
      // 2U = 2R₁ − n₁(n₁+1): still exact in longs; halve at the end.
      .withColumn("_u2", col("_r1x2") - col("n_a") * (col("n_a") + 1L))
      .withColumn("_var",
        col("n_a").cast("double") * col("n_b") / 12.0
          * ((col("_n") + lit(1.0))
            - col("_tieadj").cast("double")
              / (col("_n").cast("double") * (col("_n") - lit(1L)))))
      .withColumn("z",
        when(col("_var") > 0,
          round((col("_u2").cast("double") / 2.0
              - col("n_a").cast("double") * col("n_b") / 2.0)
            / sqrt(col("_var")), 6)))
      .select(g ++ Seq(col("n_a"), col("n_b"),
        round(col("_u2").cast("double") / 2.0, 6).as("u"), col("z")): _*)
  }

  /** Rolling z-score anomaly detection per key: each row is scored
    * against the mean/std of the k rows STRICTLY BEFORE it (the trailing
    * baseline — including the current row would let the anomaly mask
    * itself), and rows with `|z| > threshold` are emitted. Only rows with
    * a FULL k-row baseline are scored (a 3-row history calling something
    * 4σ is noise).
    *
    * Determinism: values quantize to 1e-3 up front; the frame's sum and
    * sum-of-squares then fold exactly in longs (x_e3² ≤ 1e12·k — no
    * overflow at any realistic k), and mean/std/z are pure IEEE functions
    * of those exact integers — identical on any engine, no float
    * summation-order sensitivity inside the sliding frame. Sample
    * variance (k−1). Emits `(key, t, id, x, z_e6)`.
    *
    * Scale: one window shuffle on the key; the bounded rows-frame is
    * O(1) amortized per row. */
  def rollingAnomalies(df: DataFrame, key: Column, ts: Column, id: Column,
      value: Column, k: Int, threshold: Double): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    require(threshold > 0, s"threshold must be > 0: $threshold")
    val base = df.select(key.as("key"), ts.as("t"), id.as("id"),
        floor(value.cast("double") * 1e3 + 0.5).cast("long").as("_x"))
      .filter(col("_x").isNotNull && col("t").isNotNull)
    val w = Window.partitionBy("key").orderBy(col("t"), col("id"))
      .rowsBetween(-k, -1)
    base
      .withColumn("_n", count(col("_x")).over(w))
      .withColumn("_s", sum(col("_x")).over(w))
      .withColumn("_ss", sum(col("_x") * col("_x")).over(w))
      .filter(col("_n") === k)
      // sample variance from exact integer sums:
      // var = (ss − s²/k) / (k−1), all in double over exact longs
      .withColumn("_mean", col("_s").cast("double") / k)
      .withColumn("_var",
        (col("_ss").cast("double")
          - col("_s").cast("double") * col("_s") / k) / (k - 1))
      .filter(col("_var") > 0)
      .withColumn("_z",
        (col("_x") - col("_mean")) / sqrt(col("_var")))
      .filter(abs(col("_z")) > threshold)
      .select(col("key"), col("t"), col("id"),
        round(col("_x") / lit(1e3), 3).as("x"),
        floor(col("_z") * 1e6 + 0.5).cast("long").as("z_e6"))
  }

  /** Mode per group with a deterministic tiebreak: the most frequent
    * value, smallest-value-first among ties — argmax as ONE hash
    * aggregation over (group, value) counts (`max_by` on the
    * (count, negated-order) pair would need a numeric value; instead the
    * two-level aggregate keeps any orderable type). No windows: a hot
    * group folds through partial aggregation, never a single-task sort.
    * Emits `(group, mode, n_mode)`. */
  def mode(df: DataFrame, groupCols: Seq[Column], value: Column): DataFrame = {
    val keyed = df.select(groupCols :+ value.as("_v"): _*)
      .filter(col("_v").isNotNull)
    val gNames = keyed.columns.dropRight(1)
    val g = gNames.map(col)
    keyed.groupBy(g :+ col("_v"): _*)
      .agg(count(lit(1)).as("_c"))
      .groupBy(g: _*)
      // max count, then min value among rows attaining it: min_by over
      // the (negated count, value) struct = lexicographic argmin
      .agg(min_by(struct(col("_v")), struct((-col("_c")).as("_nc"),
          col("_v"))).getField("_v").as("mode"),
        max(col("_c")).as("n_mode"))
  }

  /** Trimmed mean per group: the mean of values with rank strictly inside
    * the [trim, 1−trim] percentile band — the robust location estimate
    * that, unlike winsorization, DROPS the tails instead of clamping
    * them. Band membership uses exact ranks (`rank ∈ (⌈n·t⌉, n−⌈n·t⌉]`
    * on the (value, row-uniqueness) order), so the kept multiset — and
    * therefore the exact decimal mean — is identical on any engine.
    * Groups too small to have an interior (n − 2⌈n·t⌉ ≤ 0) drop out of
    * the result. One range-partitioned total order + group-base join +
    * one aggregation — no per-group windows (see inline note). */
  def trimmedMean(df: DataFrame, groupCols: Seq[Column], value: Column,
      trim: Double): DataFrame = {
    require(trim > 0 && trim < 0.5, s"trim must be in (0,0.5): $trim")
    val keyed = df.select(groupCols :+ value.cast("double").as("_x"): _*)
      .filter(col("_x").isNotNull)
    val gNames = keyed.columns.dropRight(1)
    val g = gNames.map(col)
    // Scale: group-local ranks from ONE range-partitioned total order
    // ([[SortOps.globalRowNumber]] over (group, x)) + a group-base join —
    // never a per-group rank window, which would sort each fat group in a
    // single task. Tie order inside equal x is arbitrary in both
    // formulations and immaterial: tied rows carry equal values, so WHICH
    // of them the cut drops cannot change the kept multiset.
    // (r17 note: the [[spearman]]-style value-collapsed build was A/B'd
    // and measured 1.19x SLOWER here — this operator's typical value
    // column is a near-unique continuous measurement (l_extendedprice:
    // 97% distinct), so the collapse compacts nothing and its extra
    // full-table hash aggregation is pure cost. Row grain stays.)
    val ranked = SortOps.globalRowNumber(keyed, g :+ col("_x"), "_grn")
    val gBase = ranked.groupBy(g: _*)
      .agg(min(col("_grn")).as("_g0"), count(lit(1)).as("_n"))
    // shuffle_hash on the O(groups) base table — see [[gini]]
    ranked.join(gBase.hint("shuffle_hash"), gNames.toSeq)
      .withColumn("_rn", col("_grn") - col("_g0") + 1L)
      .withColumn("_cut", ceil(col("_n") * trim).cast("long"))
      .filter(col("_rn") > col("_cut") && col("_rn") <= col("_n") - col("_cut"))
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_kept"),
        round(sum(col("_x").cast("decimal(28,6)")).cast("double")
          / count(lit(1)), 6).as("trimmed_mean"))
  }

  /** Seasonal-naive forecast error per key — the baseline every real
    * forecasting effort must beat, and therefore the first number a
    * pipeline computes: predict each bucket by the value one season
    * earlier (`lag(S)` on the bucketed series) and report MAE and the
    * count of scored buckets. Buckets aggregate with exact decimal sums
    * first (so a bucket's value is engine-stable), the seasonal lag is
    * one window step, and the MAE folds |error| quantized to 1e-6 longs.
    * Emits `(key, n_scored, mae_e6)`.
    *
    * Scale: one shuffle to the (key, bucket) grain — already tiny — then
    * a window and rollup on the key. */
  def seasonalNaiveError(df: DataFrame, key: Column, tsUs: Column,
      value: Column, bucketUs: Long, season: Int): DataFrame = {
    require(bucketUs > 0 && season >= 1, s"bad bucket/season: $bucketUs/$season")
    val buckets = df.select(key.as("k"), tsUs.as("_t"),
        value.cast("decimal(18,6)").as("_v"))
      .filter(col("_t").isNotNull && col("_v").isNotNull)
      .groupBy(col("k"), floor(col("_t") / bucketUs).cast("long").as("_b"))
      .agg(sum(col("_v")).as("_sv"))
    val w = Window.partitionBy("k").orderBy("_b")
    buckets
      .withColumn("_pred", lag(col("_sv"), season).over(w))
      .filter(col("_pred").isNotNull)
      .withColumn("_ae_e6",
        abs((col("_sv") - col("_pred")).cast("double") * 1e6)
          .cast("long"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_scored"),
        floor(sum(col("_ae_e6")).cast("double") / count(lit(1)) + 0.5)
          .cast("long").as("mae_e6"))
  }

  /** Weight-of-evidence encoding — the credit-scoring / feature-prep
    * transform: per category, `WOE = ln(P(cat|positive) / P(cat|negative))`
    * with add-0.5 continuity smoothing on the four counts, plus the
    * category's information-value term. Pure aggregation + scalar math on
    * the category table; quantized to 1e-6 longs. Emits
    * `(category, n_pos, n_neg, woe_e6, iv_e6)`. */
  def woeEncode(df: DataFrame, category: Column, positive: Column): DataFrame = {
    val base = df.select(category.as("cat"), positive.as("_p"))
      .filter(col("cat").isNotNull && col("_p").isNotNull)
    val counts = base.groupBy("cat")
      .agg(sum(when(col("_p"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("_p"), 1L).otherwise(0L)).as("n_neg"))
    val tot = base.agg(
      sum(when(col("_p"), 1L).otherwise(0L)).as("_tp"),
      sum(when(!col("_p"), 1L).otherwise(0L)).as("_tn"))
    counts.crossJoin(tot)
      .withColumn("_ps", (col("n_pos") + lit(0.5)) / (col("_tp") + lit(0.5)))
      .withColumn("_ns", (col("n_neg") + lit(0.5)) / (col("_tn") + lit(0.5)))
      .withColumn("woe_e6",
        floor(log(col("_ps") / col("_ns")) * 1e6 + 0.5).cast("long"))
      .withColumn("iv_e6",
        floor((col("_ps") - col("_ns")) * log(col("_ps") / col("_ns")) * 1e6
          + 0.5).cast("long"))
      .select(col("cat"), col("n_pos"), col("n_neg"), col("woe_e6"),
        col("iv_e6"))
  }

  /** Wilson score interval per group — the right way to put error bars on
    * a conversion/defect RATE (the normal approximation collapses at
    * small n or extreme p; Wilson does not): exact success/trial counts,
    * then the closed-form 95% bounds (z = 1.96), all quantized to 1e-6.
    * Emits `(group, n, successes, rate_e6, lo_e6, hi_e6)`. One hash
    * aggregation; the interval math runs on the group table. */
  def wilsonInterval(df: DataFrame, groupCols: Seq[Column],
      success: Column): DataFrame = {
    val keyed = df.select(groupCols :+ success.as("_s"): _*)
      .filter(col("_s").isNotNull)
    val gNames = keyed.columns.dropRight(1)
    val g = gNames.map(col)
    val z = 1.96
    keyed.groupBy(g: _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col("_s"), 1L).otherwise(0L)).as("successes"))
      .withColumn("_p", col("successes").cast("double") / col("n"))
      .withColumn("_den", lit(1.0) + lit(z * z) / col("n"))
      .withColumn("_ctr",
        (col("_p") + lit(z * z) / (col("n") * lit(2.0))) / col("_den"))
      .withColumn("_hw",
        lit(z) * sqrt(col("_p") * (lit(1.0) - col("_p")) / col("n")
          + lit(z * z) / (lit(4.0) * col("n") * col("n"))) / col("_den"))
      .select(g ++ Seq(col("n"), col("successes"),
        floor(col("_p") * 1e6 + 0.5).cast("long").as("rate_e6"),
        floor((col("_ctr") - col("_hw")) * 1e6 + 0.5).cast("long").as("lo_e6"),
        floor((col("_ctr") + col("_hw")) * 1e6 + 0.5).cast("long")
          .as("hi_e6")): _*)
  }

  /** Two-sample Kolmogorov-Smirnov statistic per group — the
    * distribution-shift detector that sees what mean/variance tests miss
    * (a variance swap with equal means sails through a t-test; KS
    * catches it): `D = max_x |F₁(x) − F₂(x)|` over the pooled sample.
    * Computed EXACTLY in integers: at each pooled value boundary the
    * cumulative counts c₁, c₂ satisfy `|F₁−F₂| = |c₁·n₂ − c₂·n₁|/(n₁n₂)`,
    * so the argmax compares exact long cross-products — no float CDFs.
    * Emits `(group, n_a, n_b, d_e6, at_value)` with the FIRST value
    * attaining the max (smallest, deterministic). Cohorts with an empty
    * side drop out.
    *
    * Scale: NOT per-group cumulative windows. The RANGE-inclusive
    * cumulative counts are constant within a tie block, so the CDF
    * boundary table collapses to one row per distinct (group, value)
    * first (a map-side-partial hash agg); both cohorts' cumulative
    * counts then walk that table in lockstep with ONE range-partitioned
    * two-level prefix sum ([[SortOps.globalCumSums]]) — intra-group
    * parallel; a group's cumulatives are the global ones minus the
    * group's base offsets. All counts stay exact longs. */
  def ksTest(df: DataFrame, groupCols: Seq[Column], cohortA: Column,
      value: Column): DataFrame = {
    val keyed = df.select(groupCols ++ Seq(cohortA.as("_a"),
      value.cast("double").as("_x")): _*)
      .filter(col("_x").isNotNull && col("_a").isNotNull)
    val gNames = keyed.columns.dropRight(2)
    val g = gNames.map(col)
    val collapsed = keyed.groupBy(g :+ col("_x"): _*)
      .agg(sum(when(col("_a"), 1L).otherwise(0L)).as("_ia"),
        sum(when(!col("_a"), 1L).otherwise(0L)).as("_ib"))
    val cum = SortOps.globalCumSums(collapsed, g :+ col("_x"),
      Seq(col("_ia"), col("_ib")), Seq("_gca", "_gcb"))
    // counts are >= 0, so the group's first value row minimizes the
    // exclusive prefix — min(global_cum − own_count) is the base offset
    val gBase = cum.groupBy(g: _*)
      .agg(min(col("_gca") - col("_ia")).as("_a0"),
        min(col("_gcb") - col("_ib")).as("_b0"),
        sum(col("_ia")).as("_na"), sum(col("_ib")).as("_nb"))
    cum.join(gBase.hint("shuffle_hash"), gNames.toSeq)
      .filter(col("_na") > 0 && col("_nb") > 0)
      .withColumn("_ca", col("_gca") - col("_a0"))
      .withColumn("_cb", col("_gcb") - col("_b0"))
      // |c1*n2 - c2*n1|: exact long (counts <= ~1e9 squared stays < 2^63)
      .withColumn("_gap",
        abs(col("_ca") * col("_nb") - col("_cb") * col("_na")))
      .groupBy(g: _*)
      // argmax with smallest-value tiebreak in one pass: min_by over the
      // (negated gap, value) struct = lexicographic (max gap, min value)
      .agg(max(col("_na")).as("n_a"), max(col("_nb")).as("n_b"),
        max(col("_gap")).as("_m"),
        min_by(col("_x"), struct((-col("_gap")).as("_ng"), col("_x")))
          .as("at_value"))
      .select(g ++ Seq(col("n_a"), col("n_b"),
        floor(col("_m").cast("double")
          / (col("n_a").cast("double") * col("n_b")) * 1e6 + 0.5)
          .cast("long").as("d_e6"),
        col("at_value")): _*)
  }

  /** Mutual information between two categorical columns — the
    * feature-relevance / redundancy measure in nats:
    * `I = Σ p(x,y)·ln(p(x,y)·n / (c_x·c_y))`. Each cell's term is
    * computed from exact counts and quantized to a 1e-12-scaled long
    * BEFORE the sum (the usual float-fold discipline: libm log is
    * engine-stable per call; only summation order isn't), so the released
    * total is exact given the hash-portable per-cell terms. Emits ONE row
    * `(n, n_cells, mi_e9)`. Two hash aggregations (cells, margins) plus
    * a broadcast-sized margin join. */
  def mutualInformation(df: DataFrame, a: Column, b: Column): DataFrame = {
    val base = df.select(a.as("_x"), b.as("_y"))
      .filter(col("_x").isNotNull && col("_y").isNotNull)
    val cells = base.groupBy("_x", "_y").agg(count(lit(1)).as("_cxy"))
    val ma = base.groupBy("_x").agg(count(lit(1)).as("_cx"))
    val mb = base.groupBy("_y").agg(count(lit(1)).as("_cy"))
    val tot = base.agg(count(lit(1)).as("_n"))
    cells.join(ma, Seq("_x")).join(mb, Seq("_y")).crossJoin(tot)
      // term scaled by n so p(x,y) needn't divide: n·I = Σ cxy·ln(cxy·n/(cx·cy))
      .withColumn("_t_e12",
        floor(col("_cxy").cast("double")
          * log(col("_cxy").cast("double") * col("_n")
            / (col("_cx").cast("double") * col("_cy"))) * 1e12 + 0.5)
          .cast("long"))
      .agg(max(col("_n")).as("n"), count(lit(1)).as("n_cells"),
        floor(sum(col("_t_e12")).cast("double") / max(col("_n")) / 1e3
          + 0.5).cast("long").as("mi_e9"))
  }

  /** Exact weighted quantile per group: the smallest value whose
    * cumulative weight reaches `q` of the group's total weight (the
    * inverse-CDF / lower-interpolation convention — exact set semantics,
    * no float interpolation, so it hash-compares). Ordering within equal
    * values is irrelevant: cumulative weight at the LAST row of a tie
    * block is what crosses the threshold, and the filter below takes the
    * min value among crossing rows.
    *
    * Scale: NOT a per-group cumulative window — with few fat groups (3
    * return flags over 10⁹ lineitems) `SUM OVER (PARTITION BY g ORDER BY
    * x)` sorts each group in ONE task (the straggler the quantile
    * transform measured and eliminated). The running weight is instead
    * the range-partitioned two-level prefix sum of
    * [[SortOps.globalCumSum]] over the (group, value) order —
    * intra-group parallel; a group's cumulative is the global one minus
    * the group's base offset. Weights carry as exact 1e-6-scaled longs
    * (DECIMAL(28,6) × 1e6 is integral), so the fold is
    * order-independent integer math and the released doubles are the
    * same nearest-doubles a decimal engine produces (exact below
    * 2⁵³ ≈ 9·10¹⁵, i.e. 9·10⁹ weight units). */
  def weightedQuantile(df: DataFrame, groupCols: Seq[Column], value: Column,
      weight: Column, q: Double): DataFrame = {
    require(q > 0 && q <= 1, s"q must be in (0,1]: $q")
    val keyed = df.select(groupCols ++ Seq(value.cast("double").as("_x"),
      weight.cast("decimal(28,6)").as("_w")): _*)
      .filter(col("_x").isNotNull && col("_w") > 0)
    val gNames = keyed.columns.dropRight(2)
    val g = gNames.map(col)
    // per-ROW grain is safe here (unlike [[ksTest]]): within a tie block
    // the running sum only differs mid-block, and if any mid-block row
    // crosses the threshold its block-end row (same x) crosses too, so
    // the min-x over crossing rows is invariant — no collapse needed
    val rows = keyed
      .withColumn("_wv_e6", (col("_w") * lit(1000000)).cast("long"))
    val cum = SortOps.globalCumSum(rows, g :+ col("_x"),
      col("_wv_e6"), "_gcw")
    // weights are strictly positive, so the global cumsum is increasing
    // within a group and min(_gcw − _wv_e6) is the group's base offset
    val gBase = cum.groupBy(g: _*)
      .agg(min(col("_gcw") - col("_wv_e6")).as("_g0"),
        sum(col("_wv_e6")).as("_tw_e6"))
    cum.join(gBase.hint("shuffle_hash"), gNames.toSeq)
      .withColumn("_cw_e6", col("_gcw") - col("_g0"))
      .filter(col("_cw_e6").cast("double") / 1e6
        >= col("_tw_e6").cast("double") / 1e6 * q)
      .groupBy(g: _*)
      .agg(min(col("_x")).as("quantile"),
        round(max(col("_tw_e6")).cast("double") / 1e6, 6).as("total_weight"))
      .select(g ++ Seq(col("quantile"), col("total_weight")): _*)
  }

  /** Spearman rank correlation per group — Pearson over midranks, the
    * monotone-association measure that survives outliers and nonlinear
    * scales (the robust cousin of [[q_correlation]]'s Pearson). Midranks
    * use the same doubled-integer identity as [[mannWhitneyU]]
    * (`2·midrank = 2·rank + ties − 1`, exact in longs), and every moment
    * the correlation needs (Σr, Σr², Σrₓr_y) is an exact integer fold —
    * the 6-dp release cannot straddle a float summation-order boundary.
    * Rows with a null on either side drop (complete-case, the standard
    * convention). Emits `(group…, n, rho)`; rho is null when either
    * variable is constant (zero rank variance).
    *
    * Scale: NOT per-group rank windows — few fat groups would serialize
    * each group's sort into one task (the failure mode measured on the
    * quantile transform). Each variable's midrank map instead derives
    * from ONE range-partitioned total order over (group, value)
    * ([[SortOps.globalRowNumber]]): `rank_min = min_rn(g,v) − min_rn(g)
    * + 1` and `ties = count(g,v)` are both tie-insensitive, so the
    * doubled-midrank identity `2·rank + t − 1` reconstructs exactly;
    * rows then join their (g, value) midranks back — every stage
    * intra-group parallel. No pairwise stage exists (the rank identity
    * replaces the O(n²) concordance formulation). */
  def spearman(df: DataFrame, groupCols: Seq[Column], x: Column,
      y: Column): DataFrame = {
    val keyed = df.select(groupCols ++ Seq(x.cast("double").as("_x"),
      y.cast("double").as("_y")): _*)
      .filter(col("_x").isNotNull && col("_y").isNotNull)
    val gNames = keyed.columns.dropRight(2)
    val g = gNames.map(col)
    def mr2Map(c: String, out: String): DataFrame = {
      // value-collapsed build (VERDICT r16 item 5): counts collapse to the
      // (group, value) grain BEFORE the range sort, so the pinned sort and
      // its checkpoint hold one row per DISTINCT value, not one per input
      // row (§2.3 shuffle fewer bytes — l_quantity repeats ~50×), and the
      // old post-sort row-grain collapse shuffle disappears entirely.
      // Identity: with S = inclusive cumsum of t in (g, v) order and
      // B = rows before the group (min over the group of S − t), the
      // block's first in-group rank is p = S − t − B + 1, so the doubled
      // midrank 2p + t − 1 = 2(S − B) − t + 1 — exact long math, same
      // values as the row-grain row_number formulation.
      val cnt = keyed.select(gNames.map(col) :+ col(c).as("_v"): _*)
        .groupBy(g :+ col("_v"): _*).agg(count(lit(1)).as("_t"))
      val cum = SortOps.globalCumSum(cnt, g :+ col("_v"), col("_t"), "_s")
      val gBase = cum.groupBy(g: _*).agg(min(col("_s") - col("_t")).as("_b"))
      cum.join(gBase.hint("shuffle_hash"), gNames.toSeq)
        .select(g ++ Seq(col("_v").as(c),
          (lit(2L) * (col("_s") - col("_b")) - col("_t") + lit(1L))
            .as(out)): _*)
    }
    // shuffle_hash on the value-collapsed midrank maps — see
    // [[mannWhitneyU]]; both joins lose two sorts each
    keyed
      .join(mr2Map("_x", "_rx").hint("shuffle_hash"), gNames.toSeq :+ "_x")
      .join(mr2Map("_y", "_ry").hint("shuffle_hash"), gNames.toSeq :+ "_y")
      .groupBy(g: _*)
      // per-row squares stay in longs (mr2 ≤ 2n — safe to n ~ 1e9 rows);
      // the cross-group moments go through decimal(38) so n·Σr² cannot
      // overflow a long at large n (Spark ANSI would throw, not wrap)
      .agg(count(lit(1)).as("n"),
        sum(col("_rx").cast("decimal(38,0)")).as("_sx"),
        sum(col("_ry").cast("decimal(38,0)")).as("_sy"),
        sum((col("_rx") * col("_rx")).cast("decimal(38,0)")).as("_sxx"),
        sum((col("_ry") * col("_ry")).cast("decimal(38,0)")).as("_syy"),
        sum((col("_rx") * col("_ry")).cast("decimal(38,0)")).as("_sxy"))
      .withColumn("_covn",
        (col("n") * col("_sxy") - col("_sx") * col("_sy")).cast("double"))
      .withColumn("_vx",
        (col("n") * col("_sxx") - col("_sx") * col("_sx")).cast("double"))
      .withColumn("_vy",
        (col("n") * col("_syy") - col("_sy") * col("_sy")).cast("double"))
      .withColumn("rho",
        when(col("_vx") > 0 && col("_vy") > 0,
          round(col("_covn") / sqrt(col("_vx") * col("_vy")), 6)))
      .select(g ++ Seq(col("n"), col("rho")): _*)
  }

  /** One-way ANOVA F statistic per group — "do these k cohorts share a
    * mean": `F = (SSB/(k−1)) / (SSW/(n−k))` over a cohort label column.
    * Per-cohort sum and sum-of-squares fold through exact decimals
    * (x² through DECIMAL(28,6) — wide enough for 1e5-row cohorts of
    * 1e4-scale values), and each cohort's between-term `S_j²/n_j` is
    * quantized to a 1e-2 scaled long BEFORE the cross-cohort sum, so the
    * only cross-cohort float fold is an exact integer one (the
    * [[QualityOps.tCloseness]] discipline). Emits
    * `(group…, n, k, f_e6)`; null F when k < 2, n ≤ k, or SSW = 0.
    *
    * Scale: two hash aggregations — (group, cohort) then group — both
    * partial map-side; nothing is windowed, nothing collects. */
  def anovaF(df: DataFrame, groupCols: Seq[Column], cohort: Column,
      value: Column): DataFrame = {
    val keyed = df.select(groupCols ++ Seq(cohort.as("_c"),
      value.cast("double").as("_x")): _*)
      .filter(col("_x").isNotNull && col("_c").isNotNull)
    val gNames = keyed.columns.dropRight(2)
    val g = gNames.map(col)
    keyed
      .groupBy(g :+ col("_c"): _*)
      .agg(count(lit(1)).as("_nj"),
        sum(col("_x").cast("decimal(18,6)")).cast("double").as("_sj"),
        sum((col("_x") * col("_x")).cast("decimal(28,6)")).cast("double")
          .as("_qj"))
      // quantize the cohort's between-term before the cross-cohort fold —
      // at 1e-2 (not 1e-6): the sum-of-squares term is N·V², and the e2
      // scale keeps the scaled long under 9.2e18 for cohorts to 1e6 rows
      // of 1e5-magnitude values (e6 overflows at this size; the released
      // F still quantizes at e6, and a 0.005 absolute wobble on 1e13-size
      // sums is 1e-15 relative — invisible at 6 dp)
      .withColumn("_bj_e2",
        floor(col("_sj") * col("_sj") / col("_nj") * 1e2 + 0.5).cast("long"))
      .withColumn("_qj_e2", floor(col("_qj") * 1e2 + 0.5).cast("long"))
      .withColumn("_sj_e2", floor(col("_sj") * 1e2 + 0.5).cast("long"))
      .groupBy(g: _*)
      .agg(sum(col("_nj")).as("n"), count(lit(1)).as("k"),
        sum(col("_bj_e2")).as("_b"), sum(col("_qj_e2")).as("_q"),
        sum(col("_sj_e2")).as("_s"))
      .withColumn("_ssb",
        (col("_b").cast("double")
          - col("_s").cast("double") * col("_s") / 1e2 / col("n")) / 1e2)
      .withColumn("_ssw", (col("_q") - col("_b")).cast("double") / 1e2)
      .withColumn("f_e6",
        when(col("k") >= 2 && col("n") > col("k") && col("_ssw") > 0,
          floor((col("_ssb") / (col("k") - lit(1L)))
            / (col("_ssw") / (col("n") - col("k"))) * 1e6 + 0.5)
            .cast("long")))
      .select(g ++ Seq(col("n"), col("k"), col("f_e6")): _*)
  }

  /** Per-group z-score standardization — the feature-scaling release:
    * every row scored as `(x − mean)/std` against ITS GROUP's sample
    * statistics. Mean and variance derive from exact decimal folds (the
    * [[anovaF]] moment discipline: x through DECIMAL(18,6), x² through
    * DECIMAL(28,6)), so the per-row double math starts from
    * order-independent integers. Emits `(group…, id, x, z_e6)`; groups
    * with zero variance or a single row release null z.
    *
    * Scale: one hash agg per group + one broadcast-friendly equi-join
    * back to the rows — no windows, so a hot group streams instead of
    * sorting. */
  def zScores(df: DataFrame, groupCols: Seq[Column], id: Column,
      value: Column): DataFrame = {
    val keyed = df.select(groupCols ++ Seq(id.as("id"),
      value.cast("double").as("x")): _*)
      .filter(col("x").isNotNull)
    val gNames = keyed.columns.dropRight(2)
    val g = gNames.map(col)
    val stats = keyed.groupBy(g: _*)
      .agg(count(lit(1)).as("_n"),
        sum(col("x").cast("decimal(18,6)")).cast("double").as("_s"),
        sum((col("x") * col("x")).cast("decimal(28,6)")).cast("double")
          .as("_q"))
      .withColumn("_mean", col("_s") / col("_n"))
      .withColumn("_var",
        when(col("_n") > 1L,
          (col("_q") - col("_s") * col("_s") / col("_n"))
            / (col("_n") - lit(1L))))
    keyed.join(stats, gNames.toSeq)
      .select(g ++ Seq(col("id"), col("x"),
        when(col("_var") > 0,
          floor((col("x") - col("_mean")) / sqrt(col("_var")) * 1e6 + 0.5)
            .cast("long")).as("z_e6")): _*)
  }

  /** K-fold target encoding — the leakage-controlled categorical
    * encoder: category `c`'s encoding for rows in fold `f` uses the
    * target statistics of every OTHER fold (own-fold rows never see
    * their own target), smoothed toward the global prior with weight
    * `m`: `enc(c,f) = (S_c − S_{c,f} + prior·m) / (n_c − n_{c,f} + m)`.
    * Folds are the deterministic hash buckets of the id
    * ([[graft.functions.TextFunctions.portableBucket]]) — reproducible
    * splits, no RNG. Emits the `(category, fold, n, enc_e6)` lookup
    * table (join it back on (category, hash-fold) to encode rows).
    *
    * Scale: two hash aggs ((cat, fold), then cat) and a broadcast of
    * the one-row prior; output is bounded by |categories|·folds. */
  def targetEncode(df: DataFrame, catCol: Column, idCol: Column,
      target: Column, folds: Int, smoothing: Double): DataFrame = {
    require(folds >= 2, s"folds must be >= 2: $folds")
    require(smoothing >= 0, s"smoothing must be >= 0: $smoothing")
    val keyed = df.select(catCol.as("category"),
        graft.functions.TextFunctions.portableBucket(idCol, folds)
          .cast("int").as("fold"),
        target.cast("double").as("_y"))
      .filter(col("category").isNotNull && col("_y").isNotNull)
    val perFold = keyed.groupBy("category", "fold")
      .agg(count(lit(1)).as("n"),
        sum(col("_y").cast("decimal(18,6)")).cast("double").as("_sf"))
    val perCat = perFold.groupBy("category")
      .agg(sum(col("n")).as("_nc"),
        sum(floor(col("_sf") * 1e6 + 0.5).cast("long")).as("_sc_e6"))
    val prior = keyed.agg(
      (sum(col("_y").cast("decimal(18,6)")).cast("double")
        / count(lit(1))).as("_prior"))
    perFold.join(perCat, Seq("category"))
      .crossJoin(broadcast(prior))
      .select(col("category"), col("fold"), col("n"),
        // guard: smoothing 0 + a category living in ONE fold leaves a
        // 0/0 — release null rather than a NaN (which ANSI would refuse
        // to cast)
        when(col("_nc") - col("n") + lit(smoothing) > 0,
          floor((col("_sc_e6").cast("double") / 1e6 - col("_sf")
              + col("_prior") * smoothing)
            / (col("_nc") - col("n") + lit(smoothing)) * 1e6 + 0.5)
            .cast("long")).as("enc_e6"))
  }

  /** Per-group quantile (percent-rank) transform — the rank-based
    * feature scaling that is immune to outliers where [[zScores]] is
    * not: each row maps to `(rank − 1)/(n − 1)` within its group
    * (min-rank ties, the SQL `percent_rank` contract), released at
    * 1e-6. Groups of one release 0. The ratio is integer-derived, so
    * any engine reproduces it bit-for-bit. Emits
    * `(group…, id, x, pr_e6)`.
    *
    * Scale: NOT a per-group rank window — with few fat groups (the
    * common case: 5 event types over 10⁹ rows) a windowed rank sorts
    * each group in ONE task, and the op measured ~linear decade factors
    * exactly that way (0.84 s → 2.5 s → 21.9 s at 1×/10×/100×). Instead:
    * one RANGE-partitioned total order over the VALUE-COLLAPSED
    * (group, x) counts via [[SortOps.globalCumSum]] — intra-group
    * parallel, and the sort never holds the full table — then the block
    * min-rank and the group's base reconstruct `percent_rank`
    * arithmetically: `pr = (min_rn(g,x) − min_rn(g)) / (n_g − 1)`. */
  def quantileTransform(df: DataFrame, groupCols: Seq[Column], id: Column,
      value: Column): DataFrame = {
    val keyed = df.select(groupCols ++ Seq(id.as("id"),
      value.cast("double").as("x")): _*)
      .filter(col("x").isNotNull)
    val gNames = keyed.columns.dropRight(2)
    val g = gNames.map(col)
    // value-collapsed rank map (the [[spearman]] mr2Map identity): the
    // percent-rank depends only on (group, x) — min-rank of the value
    // block and the group size — so counts collapse to that grain BEFORE
    // the range sort. The full table is never range-sorted or pinned at
    // all: `_v0 − _g0` = rows before the block within the group =
    // S − t − B (S the (g,x)-ordered inclusive count cumsum, B the
    // group's prior-row count, min of S − t). Rows then join their
    // (g, x) percent-rank back — the same value-grain SMJ the old vBase
    // join paid, but the ranked-row sort, its checkpoint, and one of the
    // two row-grain joins are gone.
    val cnt = keyed.groupBy(g :+ col("x"): _*).agg(count(lit(1)).as("_t"))
    val cum = SortOps.globalCumSum(cnt, g :+ col("x"), col("_t"), "_s")
    val gBase = cum.groupBy(g: _*)
      .agg(min(col("_s") - col("_t")).as("_b"), sum(col("_t")).as("_gn"))
    val pr = cum.join(gBase.hint("shuffle_hash"), gNames.toSeq)
      .select(g ++ Seq(col("x"),
        when(col("_gn") > 1L,
          floor((col("_s") - col("_t") - col("_b")).cast("double")
            / (col("_gn") - lit(1L)) * 1e6 + 0.5).cast("long"))
          .otherwise(lit(0L)).as("pr_e6")): _*)
    keyed.join(pr, gNames.toSeq :+ "x")
      .select(g ++ Seq(col("id"), col("x"), col("pr_e6")): _*)
  }

  /** Two-feature OLS per group — `y = b0 + b1·x1 + b2·x2` via the
    * closed-form normal equations (3×3 Cramer/adjugate solve), the
    * multivariate step past [[q_linear_trend]]'s single regressor. All
    * nine moments fold through exact decimals (x and y through
    * DECIMAL(18,6), every pairwise product through DECIMAL(28,6)), so
    * the double-precision solve starts from order-independent integers
    * and the e6 release is engine-stable. Emits
    * `(group…, n, b0_e6, b1_e6, b2_e6)`; a singular system (collinear
    * or constant regressors, n < 3) releases null coefficients.
    *
    * Scale: ONE map-side-partial hash aggregation over the data; the
    * solve is scalar math on |groups| rows. */
  def ols2(df: DataFrame, groupCols: Seq[Column], x1: Column, x2: Column,
      y: Column): DataFrame = {
    val keyed = df.select(groupCols ++ Seq(x1.cast("double").as("_x1"),
      x2.cast("double").as("_x2"), y.cast("double").as("_y")): _*)
      .filter(col("_x1").isNotNull && col("_x2").isNotNull &&
        col("_y").isNotNull)
    val gNames = keyed.columns.dropRight(3)
    val g = gNames.map(col)
    def dsum(c: Column) = sum(c.cast("decimal(18,6)")).cast("double")
    def psum(c: Column) = sum(c.cast("decimal(28,6)")).cast("double")
    keyed.groupBy(g: _*)
      .agg(count(lit(1)).as("n"),
        dsum(col("_x1")).as("_s1"), dsum(col("_x2")).as("_s2"),
        dsum(col("_y")).as("_sy"),
        psum(col("_x1") * col("_x1")).as("_s11"),
        psum(col("_x2") * col("_x2")).as("_s22"),
        psum(col("_x1") * col("_x2")).as("_s12"),
        psum(col("_x1") * col("_y")).as("_s1y"),
        psum(col("_x2") * col("_y")).as("_s2y"))
      // adjugate of the symmetric normal matrix [[n,s1,s2],[s1,s11,s12],
      // [s2,s12,s22]] — six cofactors, shared across the three solves
      .withColumn("_A", col("_s11") * col("_s22") - col("_s12") * col("_s12"))
      .withColumn("_B", col("_s1") * col("_s22") - col("_s12") * col("_s2"))
      .withColumn("_C", col("_s1") * col("_s12") - col("_s11") * col("_s2"))
      .withColumn("_D", col("n") * col("_s22") - col("_s2") * col("_s2"))
      .withColumn("_E", col("n") * col("_s12") - col("_s1") * col("_s2"))
      .withColumn("_F", col("n") * col("_s11") - col("_s1") * col("_s1"))
      .withColumn("_det",
        col("n") * col("_A") - col("_s1") * col("_B") + col("_s2") * col("_C"))
      .withColumn("_ok", col("n") >= 3 && abs(col("_det")) > lit(1e-9))
      .select(g ++ Seq(col("n"),
        when(col("_ok"), floor((col("_A") * col("_sy") - col("_B") * col("_s1y")
          + col("_C") * col("_s2y")) / col("_det") * 1e6 + 0.5).cast("long"))
          .as("b0_e6"),
        when(col("_ok"), floor((-col("_B") * col("_sy") + col("_D") * col("_s1y")
          - col("_E") * col("_s2y")) / col("_det") * 1e6 + 0.5).cast("long"))
          .as("b1_e6"),
        when(col("_ok"), floor((col("_C") * col("_sy") - col("_E") * col("_s1y")
          + col("_F") * col("_s2y")) / col("_det") * 1e6 + 0.5).cast("long"))
          .as("b2_e6")): _*)
  }

  /** Holt linear (double-exponential) smoothing per key — the classic
    * level+trend forecaster for un-seasonal series. Initialization
    * `l₁ = x₁, b₁ = 0`, then
    * `l_t = α·x_t + (1−α)(l+b)`, `b_t = β(l_t − l) + (1−β)b`; releases
    * the final state and one-step forecast per key:
    * `(k, n, level_e6, trend_e6, forecast_e6)`.
    *
    * The recurrence is inherently sequential per key, so it runs as a
    * native Catalyst `aggregate()` left-fold over the key's
    * (ts, id, x)-sorted observation array — a fixed evaluation order,
    * which makes the float recurrence bit-reproducible on any engine
    * that folds the same order (the oracle replays it as a recursive
    * CTE). No typed mapGroups, no Python, no RNG.
    *
    * Scale: one shuffle on the key; each key's series materializes as
    * one array in its aggregation buffer — the op is for bounded
    * per-key series (metrics, account histories), the same contract as
    * every sorted-fold smoother; an unbounded key should be bucketed
    * first. */
  def holtLinear(df: DataFrame, key: Column, tsUs: Column, id: Column,
      value: Column, alpha: Double, beta: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1]: $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0,1]: $beta")
    val a = lit(alpha)
    val b = lit(beta)
    def lNext(acc: Column, e: Column) =
      a * e.getField("x") +
        (lit(1.0) - a) * (acc.getField("l") + acc.getField("b"))
    df.select(key.as("k"), tsUs.cast("long").as("t"),
        id.cast("long").as("i"), value.cast("double").as("x"))
      .filter(col("k").isNotNull && col("t").isNotNull && col("x").isNotNull)
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col("t"), col("i"), col("x"))))
          .as("_arr"))
      .withColumn("_st", aggregate(
        slice(col("_arr"), lit(2), size(col("_arr"))),
        struct(element_at(col("_arr"), 1).getField("x").as("l"),
          lit(0.0).as("b")),
        (acc, e) => struct(
          lNext(acc, e).as("l"),
          (b * (lNext(acc, e) - acc.getField("l")) +
            (lit(1.0) - b) * acc.getField("b")).as("b"))))
      .select(col("k"), col("n"),
        floor(col("_st").getField("l") * 1e6 + 0.5).cast("long")
          .as("level_e6"),
        floor(col("_st").getField("b") * 1e6 + 0.5).cast("long")
          .as("trend_e6"),
        floor((col("_st").getField("l") + col("_st").getField("b")) * 1e6
          + 0.5).cast("long").as("forecast_e6"))
  }

  /** Count-min sketch BUILD (public precedent: Cormode & Muthukrishnan
    * 2005 — the standard mergeable heavy-hitter summary): fold a keyed
    * stream into a `depth × width` counter grid; row `r`'s counter for a
    * key sits at the portable md5 bucket of `"r|key"`, so an independent
    * engine reproduces the grid bit for bit (the
    * [[graft.functions.TextFunctions.portableBucket]] convention).
    * Emits the sketch as a TABLE `(r, pos, cnt)` — at most depth×width
    * rows regardless of stream size, the persistable/broadcastable shape
    * a 100 TB profile job ships to the driver or stores per shard.
    *
    * `weight` makes the sketch LINEAR: per-partition sketches merge by
    * counter addition ([[cmsMerge]]), and a CDC feed folds with
    * `weight = sign` — retractions subtract exactly, so a maintained
    * sketch equals the from-scratch sketch of the final table (the same
    * signed-delta contract as [[graft.operators.AggOps
    * .statsDeltaSigned]], extended to a sublinear summary). Scale: one
    * shuffle of depth×|stream| lightweight rows into ≤ depth×width
    * groups; partial aggregation absorbs almost all of it map-side. */
  def cmsBuild(df: DataFrame, keyCol: Column, depth: Int, width: Int,
      weight: Column = lit(1L)): DataFrame = {
    require(depth >= 1 && depth <= 8, s"depth must be in [1,8]: $depth")
    require(width >= 2, s"width must be >= 2: $width")
    df.select(keyCol.cast("string").as("_k"), weight.as("_w"))
      .select(col("_k"), col("_w"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .groupBy(col("r"),
        graft.functions.TextFunctions.portableBucket(
          concat_ws("|", col("r"), col("_k")), width).as("pos"))
      .agg(sum(col("_w")).cast("long").as("cnt"))
  }

  /** Merge count-min sketches built with the SAME (depth, width):
    * counter-wise addition — the linearity that makes the sketch
    * shardable (union per-partition sketches) and maintainable (add a
    * signed delta sketch). Zero counters need not be materialized;
    * absent rows are zeros by convention. */
  def cmsMerge(sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "cmsMerge needs at least one sketch")
    sketches.reduce(_ unionByName _)
      .groupBy(col("r"), col("pos"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
      .filter(col("cnt") =!= 0L)
  }

  /** Point-query a count-min sketch: for each distinct key in `keys`,
    * the estimate is `min_r counter[r][bucket(r|key)]` (absent counter =
    * 0). The classic guarantee holds per key: estimate ≥ true count,
    * with overshoot ≤ ε·N at probability 1−δ for depth ≈ ln(1/δ),
    * width ≈ e/ε. The probe set is key-count-sized; the join against the
    * ≤ depth×width sketch broadcasts. */
  def cmsEstimate(sketch: DataFrame, keys: DataFrame,
      keyCol: Column, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 8, s"depth must be in [1,8]: $depth")
    require(width >= 2, s"width must be >= 2: $width")
    keys.select(keyCol.cast("string").as("key")).distinct()
      .select(col("key"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("pos", graft.functions.TextFunctions.portableBucket(
        concat_ws("|", col("r"), col("key")), width))
      .join(broadcast(sketch), Seq("r", "pos"), "left_outer")
      .groupBy(col("key"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }
}
