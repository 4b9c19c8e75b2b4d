package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlShims}
import org.apache.spark.sql.execution.LogicalRDD

/** Materialize-and-cut-lineage for intermediate frames that feed several
  * downstream ACTIONS (dedup survivor ids, LSH band keys, candidate sets):
  * without the cut each action replays the upstream pipeline, and even a
  * cached plan is re-analyzed/stringified per action.
  *
  * Default strategy is `localCheckpoint()`: blocks are materialized once
  * on the computing executors and released when the frame is
  * garbage-collected (unlike a bare `persist()`, which leaks across a
  * long session — the round-4 bench regression). THE TRADE-OFF, explicit:
  * localCheckpoint blocks are NOT replicated and the truncated lineage
  * cannot be recomputed — losing an executor that holds a block (dynamic
  * allocation scale-in, spot/preemptible nodes) permanently fails every
  * plan built on the frame instead of recovering. Fine for local[n] and
  * static on-heap clusters; NOT fine for elastic ones.
  *
  * For elastic clusters set `spark.graft.checkpoint.reliable=true` AND a
  * `sparkContext.setCheckpointDir(...)` (HDFS/S3): [[cut]] then uses
  * reliable `checkpoint()`, writing blocks to the fault-tolerant store so
  * executor loss costs a re-read, not the job. The knob is read per call,
  * so a pipeline can flip it around its expensive stages only.
  */
object Materialize {

  private val ReliableKey = "spark.graft.checkpoint.reliable"

  /** One warning per JVM: repeating it per cut would flood a pipeline
    * that calls [[cut]] hundreds of times. */
  private val warnedElastic = new java.util.concurrent.atomic.AtomicBoolean

  /** Visible for the warning-path unit test. */
  private[operators] def resetElasticWarning(): Unit =
    warnedElastic.set(false)

  /** Warn (once per JVM) when a localCheckpoint runs on an ELASTIC
    * cluster — dynamic allocation can scale in an executor holding
    * unreplicated, unrecomputable blocks, permanently failing every
    * downstream plan. Factored out (and fed the launch-conf boolean)
    * so the warning path is unit-testable: `spark.dynamicAllocation
    * .enabled` is a launch-time core conf Spark refuses to modify on
    * a running session. */
  private[operators] def maybeWarnElastic(
      dynamicAllocation: Boolean): Unit =
    if (dynamicAllocation && warnedElastic.compareAndSet(false, true))
      System.err.println(
        "WARN graft.Materialize: localCheckpoint under " +
          "spark.dynamicAllocation.enabled=true — a scaled-in " +
          "executor's blocks cannot be recomputed and every " +
          s"downstream plan fails; set $ReliableKey=true plus a " +
          "checkpoint dir on elastic clusters")

  /** Fan a few-split input out to the session's full parallelism before
    * a compute-bound per-row (or per-pair) operator. Parquet cannot
    * split below row-group granularity, so a small compressed file caps
    * an expensive map at its 3-4 row groups regardless of cores. The
    * row shuffle is O(input bytes) — noise against the per-row compute
    * it spreads. Only for CPU-per-row paths; scan-bound plans keep the
    * source's own splits (which at production scale provide the
    * parallelism themselves). */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Materialize `df` eagerly and truncate its lineage — reliable
    * `checkpoint()` when `spark.graft.checkpoint.reliable=true` (requires
    * a checkpoint dir), `localCheckpoint()` otherwise. See the class doc
    * for the executor-loss trade-off. */
  def cut(df: DataFrame): DataFrame = {
    // explicit parse: bare .toBoolean throws a bare "For input string"
    // IllegalArgumentException deep inside the first pipeline stage on
    // a config typo ("1", "yes") without ever naming the key
    val reliable = df.sparkSession.conf.getOption(ReliableKey).exists {
      v => v.trim.toLowerCase(java.util.Locale.ROOT) match {
        case "true" => true
        case "false" => false
        case other => throw new IllegalArgumentException(
          s"$ReliableKey must be 'true' or 'false', got '$other'")
      }
    }
    if (reliable) {
      require(
        df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableKey=true requires sparkContext.setCheckpointDir " +
          "(an HDFS/S3 path on clusters)")
      df.checkpoint()
    } else {
      maybeWarnElastic(df.sparkSession.sparkContext.getConf
        .getBoolean("spark.dynamicAllocation.enabled", false))
      df.localCheckpoint()
    }
  }

  /** Free the blocks of a frame returned by `localCheckpoint()`. Its
    * `Dataset.unpersist()` does not: the blocks belong to the checkpointed
    * RDD the frame scans, not to the cache manager (MaterializeSpec), so
    * without this they stay until the frame is garbage-collected. The
    * frame must not be read afterwards. The blocks are dropped through the
    * context rather than `RDD.unpersist`, which warns on every call that a
    * checkpointed RDD cannot be recomputed — the point of releasing it. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => GraftSqlShims.unpersistRDD(df.sparkSession, r.rdd.id)
    case _ => ()
  }
}
