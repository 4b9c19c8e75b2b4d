package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Dump `.explain("formatted")` of the q25e export WRITE frame — the
  * dataflow `OntologyWriter` executes.
  * The catalog-level PlanDump only sees q25e's one-row REPORT frame
  * (the export runs eagerly inside the entry), so the writer's real
  * plan needs its own dump for the plans/r20 evidence pair.
  *
  * Uses the writer's own composition: columnar finishing
  * (conceptsColumnsTry — prefLabel selection inside whole-stage
  * codegen, per-term errors as a column) → render map →
  * sortWithinPartitions(code) → error filter → the `(code, text)`
  * projection the parquet parts hold. The dump shows the render map
  * and the local sort sitting directly on the `groupBy(code)` spine:
  * no exchange above it and no checkpoint scan; the global order comes
  * from the driver's merge of the parts, which runs no plan.
  *
  *   sbt 'runMain graft.tools.ExportPlanDump <outFile>'
  */
object ExportPlanDump {

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: ExportPlanDump <outFile>")
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
    val asm = graft.catalog.UmlsQueries.scaleAssembler(spark, d)()
    val cfg = graft.render.RenderConfig(ns = "http://x/", lang = "en",
      hierarchy = true, hasTree = false, dedupe = true,
      styUrl = "http://x/STY/")
    // The writer's composition: columnar finish → render → local sort.
    val frame = graft.sink.OntologyWriter.rendered(asm, cfg, strict = false)
      .filter(col("error").isNull)
      .select("code", "text")
    val plan = frame.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    java.nio.file.Files.write(java.nio.file.Paths.get(args(0)),
      plan.getBytes("UTF-8"))
    asm.unpersistShared()
    spark.stop()
  }
}
