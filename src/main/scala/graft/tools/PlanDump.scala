package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump `.explain("formatted")` for named catalog queries to files —
  * the optimization-round evidence artifact (plans/r19/<q>_before/
  * after.txt): run at the pre-change commit and at HEAD, diff the pair.
  *
  * An entry may run SQL executions eagerly before it returns its frame
  * (q25e writes its export, the q53 family builds its dedup index), so
  * a listener records every execution the entry runs; each one's
  * executed plan is written, numbered and with its action name, ahead
  * of the returned frame's plan.
  *
  *   sbt 'runMain graft.tools.PlanDump <outDir> <suffix> q1,q2,...'
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <outDir> <suffix> <names>")
    val (outDir, suffix) = (args(0), args(1))
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions
      .withMaster(SparkSession.builder(), cpus)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val entry = graft.catalog.Queries.benchByName(name)
        val plan = dump(spark)(entry(spark, d))
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        System.err.println(s"[plandump] wrote $name")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** Run `entry` and explain what it did: the executed plan of every SQL
    * execution it ran, in completion order, then its returned frame. */
  def dump(spark: SparkSession)(entry: => DataFrame): String = {
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        runs.add(s"$funcName\n${qe.explainString(FormattedMode)}")
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val frame = try {
      val df = entry
      GraftSqlShims.waitForListeners(spark)
      df
    } finally spark.listenerManager.unregister(listener)
    val executed = runs.toArray(Array.empty[String]).zipWithIndex.map {
      case (run, i) => s"== SQL execution ${i + 1}: $run\n"
    }
    (executed :+ s"== Returned frame\n${
      frame.queryExecution.explainString(FormattedMode)}").mkString("\n")
  }
}
