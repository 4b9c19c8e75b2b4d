package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-store partition sizing for streaming starts (r18 verdict #7).
  *
  * The number of state partitions is `spark.sql.shuffle.partitions` at
  * a streaming query's FIRST start (it is then baked into the
  * checkpoint), and the cold-JVM curve recorded in BENCH_NOTES r18
  * shows per-batch state-store open/commit across
  * state partitions — not task-thread parallelism — dominating stateful
  * micro-batch cost on this host: p=32 → 1,250k/1,564k ev/s
  * (sessionize/windowed_dedup), p=16 → 2,264k/2,606k (the 1.7-1.8×),
  * p=8 → 2,644k/2,892k (≤17% more). The sizing rule is therefore
  * **~cores/2 state partitions per host**; beyond that the commit
  * overhead buys nothing and key-skew headroom shrinks.
  *
  * This object makes the rule an explicit, non-rotting knob instead of
  * folklore: [[recommended]] computes it, [[withStatePartitions]]
  * applies an override for the dynamic extent of a streaming start
  * (None = session default — the committed bench configuration stays
  * byte-identical), restoring the prior value afterwards. The override
  * must stay set through the query's first batch (the engine snapshots
  * the conf into the checkpoint's offset metadata then), so wrap the
  * whole start-to-stop extent, as `StreamBench.run` does.
  */
object StateSizing {

  /** The measured sizing rule: ~half the host's cores, floor 1. */
  def recommended(cores: Int): Int = math.max(cores / 2, 1)

  /** Run `body` with `spark.sql.shuffle.partitions` overridden to `p`
    * (None = leave the session untouched), restoring the prior value
    * even on failure. The override governs the STATE partition count of
    * any streaming query first-started inside `body`. */
  def withStatePartitions[T](spark: SparkSession, p: Option[Int])(
      body: => T): T = p match {
    case None => body
    case Some(n) =>
      require(n > 0, s"state partitions must be positive, got $n")
      val key = "spark.sql.shuffle.partitions"
      val prior = spark.conf.get(key)
      spark.conf.set(key, n.toString)
      try body finally spark.conf.set(key, prior)
  }
}
