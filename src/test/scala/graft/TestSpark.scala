package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.UmlsSource

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "1048576")
    .getOrCreate()

  /** Build a fixture UMLS table: missing columns become "" (the RRF/MySQL
    * absent value — empty string, not NULL; SURVEY.md §7.3 hard-part #2). */
  def mkTable(name: String, rows: Seq[Map[String, String]]): DataFrame = {
    val schema = UmlsSource.schemaOf(name)
    val data = rows.map(m =>
      Row.fromSeq(schema.fieldNames.toSeq.map(f => m.getOrElse(f, ""))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, math.max(1, data.size min 2)),
      schema)
  }

  /** The same fixture rows through the two source paths the export
    * reads: RRF files, where an absent value reads as "", and in-memory
    * tables, where it is NULL. Each table is one partition, so scan order
    * is row order. */
  def bothPaths(tables: Map[String, Seq[Map[String, String]]])
      : Seq[(String, UmlsSource)] = {
    val dir = java.nio.file.Files.createTempDirectory("graft-rrf").toString
    val nulls = tables.map { case (name, rows) =>
      val fields = UmlsSource.schemaOf(name).fieldNames.toSeq
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name.RRF"),
        rows.map(m => fields.map(f => Option(m.getOrElse(f, "")).getOrElse(""))
          .mkString("", "|", "|\n"))
          .mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      name -> spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map(m => Row.fromSeq(fields.map(f => m.getOrElse(f, null)))), 1),
        UmlsSource.schemaOf(name))
    }
    Seq("rrf" -> UmlsSource.rrf(spark, dir), "nulls" -> UmlsSource.fixed(nulls))
  }

  /** Fixture source where unspecified tables are empty. */
  def fixedSource(tables: Map[String, DataFrame]): UmlsSource =
    new UmlsSource {
      def table(name: String): DataFrame =
        tables.getOrElse(name, UmlsSource.empty(spark, name))
    }
}
