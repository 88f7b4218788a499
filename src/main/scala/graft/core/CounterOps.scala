package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** Counters, parity with the reference's distributed Counters surface
  * (reference: hadoop-mapreduce-client-core .../mapreduce/Counters.java,
  * builtin names TaskCounter.java:28-42, user counters via
  * context.getCounter). Spark-first: `df.observe` attaches metric
  * expressions that are aggregated on the executors as the query runs —
  * exactly the reference's counter semantics (cheap, no extra pass) —
  * and read on the driver after the action. */
object CounterOps {

  /** Attach named counters to a DataFrame; returns (df, observation).
    * Read `observation.get` AFTER an action has run the query. */
  def withCounters(
      df: DataFrame,
      name: String,
      counters: Map[String, Column]): (DataFrame, Observation) = {
    val obs = Observation(name)
    val cols = counters.map { case (n, c) => c.as(n) }.toSeq
    (df.observe(obs, cols.head, cols.tail: _*), obs)
  }
}
