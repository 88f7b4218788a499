package graft.core

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation}
import org.apache.spark.sql.execution.LogicalRDD

/** The pin/release policy for eager `localCheckpoint` state — the one
  * place iterative operators and multi-job verbs get it from.
  *
  * [[pin]] materializes a frame with `localCheckpoint` and observes the
  * caller's named aggregates on that same job ([[observed]] does the same
  * for any other single-query action, such as a write): a round's counters
  * (survivor count, dangling mass, convergence signature) ride the job
  * that moves the data instead of costing a job of their own, the way the
  * reference's `Counters` ride each MapReduce job.
  *
  * [[iterate]] is the round loop built on it: each round pins
  * `step(state, seen)`, frees the superseded round, and stops after
  * `maxRounds` rounds or once `done(prevSeen, nextSeen)` holds.
  *
  * Why release explicitly: a superseded round's blocks are pinned at the
  * checkpoint storage level and are otherwise only reclaimed when the
  * ContextCleaner notices the dropped JVM reference after a GC — in a long
  * session (or a 20-iteration PageRank over a 100 TB-derived rank table)
  * that lets stale copies of the iterated state accumulate in executor
  * storage. `Dataset.unpersist()` does NOT help: it only evicts
  * CacheManager entries (from `persist`/`cache`), and a local checkpoint's
  * RDD blocks never enter the CacheManager. [[release]] frees them: a
  * Dataset returned by `localCheckpoint()` analyzes to a root
  * [[LogicalRDD]] whose `rdd` holds the pinned blocks.
  *
  * Safety contract: only release a checkpoint you own, AFTER the value
  * that supersedes it is itself an eager checkpoint (fully materialized,
  * so nothing can ever recompute through the released blocks) — or when
  * nothing built on it survives, as on an exception. The root-match is
  * deliberate — a Dataset *derived* from a checkpoint (e.g. a lazy
  * `nodes.select(...)` seed) is left untouched rather than traversed, so
  * shared upstream checkpoints can never be freed by accident; releasing
  * such a frame is a no-op.
  */
object Checkpoints {

  /** `act`'s result on `ds`, with `metrics` (named aggregates) observed on
    * the one query `act` runs; the map is empty when no metric is asked
    * for. */
  def observed[T, R](ds: Dataset[T], metrics: Column*)(
      act: Dataset[T] => R): (R, Map[String, Any]) =
    if (metrics.isEmpty) (act(ds), Map.empty)
    else {
      val obs = Observation()
      val r = act(ds.observe(obs, metrics.head, metrics.tail: _*))
      (r, obs.get)
    }

  /** `ds` pinned by `localCheckpoint`, with `metrics` observed on the
    * pinning job itself ([[observed]]). */
  def pin[T](ds: Dataset[T], metrics: Column*): (Dataset[T], Map[String, Any]) =
    observed(ds, metrics: _*)(_.localCheckpoint())

  /** Up to `maxRounds` rounds of `state = pin(step(state, seen), metrics)`,
    * from `init` observed as `seen0`; stops early once
    * `done(prevSeen, nextSeen)`. The loop owns `init` and every round: a
    * round is released once its successor is pinned, and on an exception
    * the live round is released too. Returns the last round, pinned (or
    * `init` itself at zero rounds). */
  def iterate(init: DataFrame, seen0: Map[String, Any], maxRounds: Int,
      metrics: Column*)(done: (Map[String, Any], Map[String, Any]) => Boolean)(
      step: (DataFrame, Map[String, Any]) => DataFrame): DataFrame = {
    var state = init
    var seen = seen0
    var round = 0
    var stop = false
    var ok = false
    try {
      while (round < maxRounds && !stop) {
        val prev = state
        val (next, nextSeen) = pin(step(prev, seen), metrics: _*)
        state = next
        release(prev)
        stop = done(seen, nextSeen)
        seen = nextSeen
        round += 1
      }
      ok = true
      state
    } finally if (!ok) release(state)
  }

  /** Free the storage blocks behind an eager `localCheckpoint` result.
    * No-op (by design) when `ds` is not itself a checkpoint. */
  def release(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _              => ()
    }

  /** Release several checkpoints (order-independent). */
  def releaseAll(ds: Dataset[_]*): Unit = ds.foreach(release)

  /** Free EVERY persisted RDD reachable from `ds`'s physical lineage —
    * for results built *on top of* a pinned checkpoint (the two-level
    * templates in [[graft.operators.SortOps]] return a lazy map over
    * their internally-checkpointed sort), where [[release]]'s root-only
    * match can't see the pinned blocks.
    *
    * Stronger ownership contract than [[release]]: the caller asserts the
    * WHOLE lineage is private — nothing else will ever read any persisted
    * RDD under `ds`. Use it in chained operators right after the next
    * stage has eagerly materialized (e.g. cusumWide releases its cumsum
    * intermediate once groupedRunningMin has checkpointed its own input);
    * never on a dataset sharing a cached/checkpointed ancestor. */
  def releaseLineage(ds: Dataset[_]): Unit = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(rdd: org.apache.spark.rdd.RDD[_]): Unit =
      if (seen.add(rdd.id)) {
        if (rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
          rdd.unpersist(blocking = false)
        rdd.dependencies.foreach(d => walk(d.rdd))
      }
    walk(ds.queryExecution.toRdd)
  }
}
