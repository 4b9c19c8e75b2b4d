package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness test tables (TESTDATA.md).
  *
  * All queries in [[Queries]] take an `sfDir` (e.g. `/root/testdata/sf0.01`)
  * and read one parquet file per table. Catalyst pushes filters/projections
  * into the parquet scan, so each query only reads the columns/rows it needs
  * — at 100 TB these reads are partition-pruned, column-pruned scans, not
  * full-table loads.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped as two physical types across harness data
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — read nanos as long and integer-DIV to µs; a double division
    * would lose precision on ~1.7e18 ns epochs) and plain TIMESTAMP(MICROS)
    * with isAdjustedToUTC=false (which Spark reads as TIMESTAMP_NTZ).
    * Normalise both to a session-TZ TIMESTAMP: both mains pin the session
    * to UTC, so the NTZ cast is value-preserving and DuckDB's naive µs
    * timestamps compare equal. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Fan a few-split input out to full parallelism before a
    * compute-bound per-row operator (task metrics: q183b spent 8 s of
    * executor time on 4 row-group-capped tasks). The policy lives in
    * [[graft.operators.Materialize.fanOut]] so operators and catalog
    * entries share one definition. */
  def fanOut(df: DataFrame): DataFrame =
    graft.operators.Materialize.fanOut(df)
}
