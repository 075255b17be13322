package graft

import org.apache.spark.sql.{Column, DataFrame}

/** The library's partitioning policy: where a plan is widened after a
  * narrow scan, pinned against AQE coalescing, or given a broadcast
  * side. Operators call these instead of carrying their own copies. */
object Shape {

  /** Plan-size floor for the light-map-side fan-out sites: below this
    * plan-estimated input size the serialized kernel work is cheaper
    * than the exchange it would take to spread it. Same-window A/Bs
    * measured an unconditional fan-out as a net loss on small inputs
    * (q_dedup_corpus 1.45 -> 0.87 without it), while the 100 TB
    * narrow-scan case (one multi-GB unsplittable file) still wants it. */
  val FanOutMinBytes: Long = 64L << 20

  /** Row-count gate for explicitly broadcasting a node-sized frame into
    * an iterative graph operator's per-round join. Checkpointed frames
    * carry no size statistics, so the planner never broadcasts them on
    * its own; past the gate the shuffle join is the only correct plan. */
  val BroadcastRows: Long = 5000000L

  /** Input-skew guard (guide §2.5: "one huge unsplittable file …
    * repartition immediately after the read"): the sf parquet inputs
    * are single-row-group files, so a scan yields ONE effective task
    * and every expensive per-row kernel or near-unique-key aggregate
    * chained onto it runs serialized behind idle cores. When `df` has
    * fewer partitions than the session's parallelism, spread it
    * BEFORE the heavy work; an already-parallel input comes back
    * unchanged (the probe reads the partition count, it runs no job).
    * Call it only where such heavy work follows: in front of cheap
    * projections it just adds an exchange.
    *
    * With a `key` the rows are hash-partitioned on it, so the exchange
    * merges with a downstream aggregate or join on that key (subset
    * clustering). Without one they go round-robin — which first SORTS
    * the input by the full binary row (spark.sql.execution
    * .sortBeforeRepartition), so payload-carrying rows should pass a
    * key. A positive `minBytes` also leaves inputs whose plan-time
    * size estimate is below it unchanged (see [[FanOutMinBytes]]). */
  def fanOut(df: DataFrame, key: Seq[Column] = Nil,
      minBytes: Long = 0L): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else if (minBytes > 0L &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes < minBytes) df
    else if (key.nonEmpty) df.repartition(target, key: _*)
    else df.repartition(target)
  }

  /** Pinned keyed repartition in front of a CPU-dense aggregate whose
    * input is SMALL IN BYTES but expensive per row (pair-expansion
    * Generates, array intersections): AQE's partition coalescing
    * targets bytes, so a few-MB exchange feeding such a stage
    * collapses to one or two tasks and the whole expansion serializes
    * behind idle cores (measured: q_similarity_join's verify stage ran
    * as ONE 1.4 s task at sf0.1). Repartitioning on the downstream
    * grouping/join key merges with the exchange that operator needs
    * anyway, and an explicit partition count is exempt from AQE
    * coalescing. The count is max(defaultParallelism, configured
    * shuffle partitions), so on a real cluster the exchange keeps the
    * partition count the planner would have used — only the coalesce
    * of the CPU-dense stage is suppressed. */
  def pinWide(df: DataFrame, key: Column*): DataFrame = {
    val s = df.sparkSession
    val shufflePartitions =
      try s.conf.get("spark.sql.shuffle.partitions").toInt
      catch { case scala.util.control.NonFatal(_) => 0 }
    df.repartition(
      math.max(s.sparkContext.defaultParallelism, shufflePartitions), key: _*)
  }
}
