package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Join operators (SURVEY §2.5). The reference's entire map-side
  * CompositeInputFormat subsystem (sorted-merge over co-partitioned inputs,
  * reference: hadoop-mapreduce-client-core .../lib/join/CompositeInputFormat.java:56)
  * and reduce-side datajoin package collapse into Catalyst join selection:
  * SortMergeJoin for large-large, BroadcastHashJoin for small dims (the
  * reference's DistributedCache idiom), with AQE skew handling.
  */
object JoinOps {

  /** N-way inner equi-join on a shared key (InnerJoinRecordReader parity,
    * reference: .../lib/join/InnerJoinRecordReader.java:34). Duplicate keys
    * produce the cross-product of matches, exactly as the reference's
    * reset-able value iterators did. */
  def innerJoin(dfs: Seq[DataFrame], key: String): DataFrame =
    dfs.reduce((a, b) => a.join(b, Seq(key), "inner"))

  /** N-way full-outer equi-join (OuterJoinRecordReader parity: emit when ANY
    * source has the key; absent slots -> null. Reference:
    * .../lib/join/OuterJoinRecordReader.java:34). */
  def outerJoin(dfs: Seq[DataFrame], key: String): DataFrame =
    dfs.reduce((a, b) => a.join(b, Seq(key), "full_outer"))

  /** Override join (OverrideRecordReader parity: per key, keep the value from
    * the RIGHTMOST source that has it. Reference:
    * .../lib/join/OverrideRecordReader.java:42). Inputs are (key, value)
    * DataFrames; later elements of `dfs` win. Implemented as a full-outer
    * chain + coalesce(right, left) — one shuffle per source, no skew on the
    * value side. */
  def overrideJoin(dfs: Seq[DataFrame], key: String, value: String): DataFrame =
    dfs.reduce { (a, b) =>
      a.withColumnRenamed(value, "_l")
        .join(b.withColumnRenamed(value, "_r"), Seq(key), "full_outer")
        .select(col(key), coalesce(col("_r"), col("_l")).as(value))
    }

  /** Reduce-side tagged join (hadoop-datajoin parity): per key, the
    * cross-product of the two sides, with each side's per-key group capped at
    * `maxPerGroup` rows (reference: hadoop-tools/hadoop-datajoin
    * .../DataJoinReducerBase.java:47, cap maxNumOfValuesPerGroup :51).
    * The cap is applied with a deterministic per-side ordering BEFORE the
    * join — a window per side, so the cross-product (the skew risk at 100TB)
    * is bounded by cap² per key. */
  def taggedJoin(
      left: DataFrame, right: DataFrame, key: String,
      leftOrder: Seq[Column], rightOrder: Seq[Column],
      maxPerGroup: Int): DataFrame = {
    def cap(df: DataFrame, order: Seq[Column]): DataFrame =
      df.withColumn("_rn", row_number().over(
          Window.partitionBy(col(key)).orderBy(order: _*)))
        .filter(col("_rn") <= maxPerGroup)
        .drop("_rn")
    cap(left, leftOrder).join(cap(right, rightOrder), Seq(key), "inner")
  }

  /** Typed cogroup — the reduce-side join framework's GENERAL form
    * (reference: hadoop-tools/hadoop-datajoin .../DataJoinReducerBase
    * .java:47 — both sides' rows for a key arrive in one reduce call and
    * arbitrary logic combines them). Every specific join (inner/outer/
    * override/tagged) is a special case; this exposes the raw per-key
    * (leftRows, rightRows) contract for logic no join type expresses.
    * One shuffle per side on the key; per-key state is the lambda's
    * business, exactly like the reference's reduce(). The demo kernel
    * emits per-key counts from each side (a full-outer-join-of-groupbys
    * semantically — which is what the oracle checks). */
  def cogroupCounts(
      left: DataFrame, leftKey: Column,
      right: DataFrame, rightKey: Column): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    val l = left.select(leftKey.cast("long")).as[Long].groupByKey(identity)
    val r = right.select(rightKey.cast("long")).as[Long].groupByKey(identity)
    l.cogroup(r) { case (k, li, ri) =>
      var nl = 0L; li.foreach(_ => nl += 1)
      var nr = 0L; ri.foreach(_ => nr += 1)
      Iterator((k, nl, nr))
    }.toDF("key", "n_left", "n_right")
  }

  /** As-of join: for each left row, the most recent right row with
    * rightTime <= leftTime on the same key (an operator the reference — and
    * stock Spark SQL — lacks; SURVEY §2.5 "free surface").
    *
    * Implemented with the union + running-last-value technique: tag both
    * sides, union, ONE shuffle on the key, and a window scan in time order
    * where right rows sort before left rows at equal timestamps. Cost is
    * sort-merge-shaped (n log n per key group) — no range cross-join blowup,
    * so it survives 100TB where a `t BETWEEN`-style join would explode.
    * The right payload travels as one struct, so all matched columns come
    * atomically from the same right row. Right rows tied on (key, time) are
    * resolved by `rightOrder` (last wins). Unmatched left rows keep nulls
    * (left-join semantics). */
  def asOfJoin(
      left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      rightOrder: Seq[String] = Nil): DataFrame = {
    val rCols = right.columns.filterNot(_ == key).toSeq
    val l = left
      .withColumn("_t", col(leftTime))
      .withColumn("_is_left", lit(1))
      .withColumn("_rpay", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          rCols.map(c => org.apache.spark.sql.types.StructField(
            c, right.schema(c).dataType, nullable = true)))))
      .select(col(key).as("_k"), col("_t"), col("_is_left"), col("_rpay"),
        struct(left.columns.map(col): _*).as("_lpay"))
    val r = right
      .withColumn("_t", col(rightTime))
      .withColumn("_is_left", lit(0))
      .withColumn("_rpay", struct(rCols.map(col): _*))
      .select(col(key).as("_k"), col("_t"), col("_is_left"), col("_rpay"),
        lit(null).cast(org.apache.spark.sql.types.StructType(
          left.schema.fields.toSeq)).as("_lpay"))
    val order = Seq(col("_t").asc, col("_is_left").asc) ++
      rightOrder.map(c => col("_rpay").getField(c).asc)
    val w = Window.partitionBy(col("_k"))
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = l.unionByName(r)
      .withColumn("_m", last(when(col("_is_left") === 0, col("_rpay")), ignoreNulls = true).over(w))
      .filter(col("_is_left") === 1)
    val outCols =
      left.columns.toSeq.map(c => col("_lpay").getField(c).as(c)) ++
        rCols.map(c => col("_m").getField(c).as(c))
    matched.select(outCols: _*)
  }

  /** Semi/anti join surface (free in Spark; absent in the reference — SURVEY
    * §2.5 flags these as engine surface we expose anyway). */
  def semiJoin(a: DataFrame, b: DataFrame, key: String): DataFrame =
    a.join(b, Seq(key), "left_semi")

  def antiJoin(a: DataFrame, b: DataFrame, key: String): DataFrame =
    a.join(b, Seq(key), "left_anti")

  /** Point-in-interval range join, made shuffle-scalable by bucketing: a
    * naive `p BETWEEN lo AND hi` join has no equi-key, so Spark would pick
    * BroadcastNestedLoopJoin — O(|points|·|intervals|) and a driver OOM once
    * the intervals side outgrows the broadcast limit. Instead both sides are
    * keyed to fixed-width buckets: each interval replicates to every bucket
    * it overlaps (`sequence(floor(lo/w), floor(hi/w))`), each point hashes to
    * exactly ONE bucket, and the match becomes equi-join on bucket + residual
    * `BETWEEN` filter. Each qualifying (point, interval) pair meets in
    * exactly one bucket — the point's — so no pair dedup is needed.
    *
    * Scale knob: `bucketWidth` trades interval replication (≈ span/width
    * copies per interval) against bucket selectivity; set it near the median
    * interval span. The shuffle is a plain hash shuffle on a numeric key —
    * skewed buckets fall to AQE skew-split like any hot join key. */
  def rangeJoin(
      points: DataFrame, intervals: DataFrame,
      pointCol: String, loCol: String, hiCol: String,
      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val pb = points.withColumn("_bucket",
      floor(col(pointCol) / bucketWidth).cast("long"))
    val ib = intervals.withColumn("_bucket",
      explode(sequence(
        floor(col(loCol) / bucketWidth).cast("long"),
        floor(col(hiCol) / bucketWidth).cast("long"))))
    pb.join(ib, Seq("_bucket"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("_bucket")
  }

  /** Incremental join maintenance (insert-only IVM): the DELTA of
    * `A ⋈ B` when batches `ΔA`, `ΔB` of new rows land — the algebra a
    * materialized join view refreshes by instead of recomputing:
    *
    *   `Δ(A⋈B) = ΔA ⋈ (B ∪ ΔB)  ∪  A ⋈ ΔB`
    *
    * (the ΔA⋈ΔB cross term rides in the first leg, so the two legs are
    * disjoint and the union is exact multiset arithmetic). Appending the
    * result to the old view equals the full re-join — the invariant the
    * spec and gate check. Insert-only is the contract; retractions need
    * the CDC path ([[QualityOps.cdcApply]]).
    *
    * Scale: both legs join a DELTA-sized side — AQE broadcasts the small
    * batch — so refresh cost tracks the batch, never the base tables;
    * the base tables are scanned, not shuffled, when the delta
    * broadcasts. */
  def joinDelta(aOld: DataFrame, aDelta: DataFrame, bOld: DataFrame,
      bDelta: DataFrame, keys: Seq[String]): DataFrame =
    aDelta.join(bOld.unionByName(bDelta), keys)
      .unionByName(aOld.join(bDelta, keys))

  /** Signed-delta IVM — [[joinDelta]] generalized to RETRACTIONS (the
    * full differential-dataflow / DBSP sign algebra): delta rows carry
    * `signCol` (+1 insert, −1 delete) and the returned join delta is
    * signed the same way, with cross-term signs multiplying:
    *
    *   `Δ(A⋈B) = ΔA ⋈ B_old ∪ A_old ⋈ ΔB ∪ ΔA ⋈ ΔB`
    *
    * because `(A+ΔA)⋈(B+ΔB) − A⋈B` expands to exactly those three signed
    * legs over multisets. The maintenance invariant (what the gate and
    * spec check): for ANY grouping of the view's columns,
    * `old-view count + Σ sign over this delta = re-joined new-view
    * count` — groups netting to zero vanish from the new view.
    *
    * Contract: `aDelta`/`bDelta` have their base side's columns plus
    * `signCol`; a delete row must equal a live base row (one delta row
    * per retracted occurrence — multiset semantics).
    *
    * Scale: every leg joins at least one DELTA-sized side (AQE
    * broadcasts it), so refresh cost tracks the batch, never the base
    * tables — the cross term is delta×delta. */
  def joinDeltaSigned(aOld: DataFrame, aDelta: DataFrame, bOld: DataFrame,
      bDelta: DataFrame, keys: Seq[String],
      signCol: String = "sign"): DataFrame = {
    require(aDelta.columns.contains(signCol) &&
      bDelta.columns.contains(signCol),
      s"deltas must carry the sign column '$signCol'")
    val a1 = aDelta.withColumnRenamed(signCol, "_ivm_sa")
    val b1 = bDelta.withColumnRenamed(signCol, "_ivm_sb")
    a1.join(bOld, keys)
      .withColumn(signCol, col("_ivm_sa")).drop("_ivm_sa")
      .unionByName(
        aOld.join(b1, keys)
          .withColumn(signCol, col("_ivm_sb")).drop("_ivm_sb"))
      .unionByName(
        a1.join(b1, keys)
          .withColumn(signCol, col("_ivm_sa") * col("_ivm_sb"))
          .drop("_ivm_sa", "_ivm_sb"))
  }
}
