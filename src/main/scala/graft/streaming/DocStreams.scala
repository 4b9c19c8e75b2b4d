package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StringType

import graft.sources.DocSource

/** Streaming JSONL corpus ingestion: tail a growing directory of crawl
  * shards (the way corpus deliveries actually land — a new .jsonl file
  * per upstream dump) and maintain a parquet corpus plus a quarantine of
  * malformed lines.
  *
  * Scale/exactly-once design, same contract as
  * [[EventStreams.selfMaintainingIngest]]:
  *   - the file source checkpoints WHICH files are consumed — a restart
  *     never re-reads a processed shard;
  *   - each micro-batch writes `batch=<id>` partitions with DYNAMIC
  *     partition overwrite, so checkpoint replay after a crash between
  *     writes overwrites the half-written partition instead of
  *     duplicating it (idempotent by construction, directly testable via
  *     [[ingestBatch]]);
  *   - corrupt lines land in the quarantine AS RAW TEXT for offline
  *     inspection — a crawl shard with a truncated line must not kill
  *     the pipeline (S6 spirit: umls2rdf.py's per-term error tolerance).
  */
object DocStreams {

  final case class IngestReport(batchId: Long, nValid: Long, nCorrupt: Long)

  /** The streaming read: explicit schema (a streaming source cannot
    * infer), PERMISSIVE corrupt capture, bounded files per trigger so one
    * giant backlog drains in controlled increments. */
  def jsonlTail(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(DocSource.documentSchema.add("_corrupt", StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("multiLine", "false")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** CSV twin of [[jsonlTail]]: streaming RFC-4180 reads with the same
    * explicit schema, quote-escape (`""`) handling, and corrupt-line
    * capture as the batch [[DocSource.csv]] — crawl shards arriving as
    * CSV drain through the identical ingest loop (the output of
    * [[jsonlIngest]] is format-agnostic once rows are parsed). */
  def csvTail(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(DocSource.documentSchema.add("_corrupt", StringType))
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(dir)

  /** Start the ingest: valid rows → `outPath` (batch-partitioned
    * parquet), corrupt raw lines → `quarantinePath`. Caller stops the
    * returned query. */
  def jsonlIngest(docs: DataFrame, outPath: String, quarantinePath: String,
      checkpoint: String,
      onBatch: IngestReport => Unit = _ => ()): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          ingestBatch(batch.toDF(), batchId, outPath, quarantinePath, onBatch)
      }
      .start()

  /** One micro-batch, factored out so the replay contract is directly
    * testable: running the same `batchId` twice (checkpoint recovery
    * after a crash between the paired writes) leaves both sinks exactly
    * as a single run would. */
  private[streaming] def ingestBatch(bdf: DataFrame, batchId: Long,
      outPath: String, quarantinePath: String,
      onBatch: IngestReport => Unit): Unit = {
    val cached = bdf.cache()
    try {
      val valid = cached
        .filter(col("_corrupt").isNull && col("doc_id").isNotNull)
        .drop("_corrupt")
      // cleanly-PARSED rows without a doc_id (schema drift: the id field
      // renamed upstream, or a null id) are quarantined too (r14
      // review): they failed the valid filter but not the corrupt one,
      // so a whole such shard previously vanished uncounted — and the
      // file-source checkpoint marks it consumed, so the loss was
      // unrecoverable. The raw line is not preserved for parseable rows;
      // their JSON rendering stands in.
      val corrupt = cached.filter(col("_corrupt").isNotNull)
        .select(col("_corrupt").as("raw_line"))
        .unionByName(cached
          .filter(col("_corrupt").isNull && col("doc_id").isNull)
          .drop("_corrupt")
          .select(to_json(struct(col("*"))).as("raw_line")))
      // Writer-scoped dynamic overwrite (same fix as tokenizeBatch):
      // mutating the session conf leaked dynamic mode to concurrent
      // partitioned overwrites sharing the SparkSession, and the
      // restore raced between streams — the DataFrameWriter option
      // applies to these writes only.
      valid.withColumn("batch", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(outPath)
      val nCorrupt = corrupt.count()
      if (nCorrupt > 0)
        corrupt.withColumn("batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch")
          .parquet(quarantinePath)
      onBatch(IngestReport(batchId, valid.count(), nCorrupt))
    } finally cached.unpersist()
  }

  final case class TokenizeReport(batchId: Long, nDocs: Long,
      nTokens: Long, nUnkDocs: Long)

  /** Streaming tokenize-at-ingest: apply a LOADED subword vocabulary to
    * documents as they land, writing a training-ready tokenized corpus
    * (doc_id, tokens, n_tokens, batch) under the same
    * checkpoint + dynamic-partition-overwrite contract as
    * [[jsonlIngest]] (idempotent micro-batch replay). The tokenization
    * IS the batch operator ([[graft.operators.WordPiece.wordPieceApply]])
    * run inside foreachBatch — stream/batch parity holds by
    * construction, not by a parallel implementation; the spec pins it
    * against the batch apply of the same rows anyway. Rows flagged
    * `_corrupt` by an upstream tail are skipped (they belong to the
    * ingest quarantine, not the tokenized corpus). */
  def tokenizedIngest(docs: DataFrame, vocab: Seq[String], outPath: String,
      checkpoint: String, onBatch: TokenizeReport => Unit = _ => ())
      : StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          tokenizeBatch(batch.toDF(), batchId, vocab, outPath, onBatch)
      }
      .start()

  /** One tokenize micro-batch, factored out for direct replay testing
    * (same contract as [[ingestBatch]]). */
  private[streaming] def tokenizeBatch(bdf: DataFrame, batchId: Long,
      vocab: Seq[String], outPath: String,
      onBatch: TokenizeReport => Unit): Unit = {
    val valid0 =
      if (bdf.columns.contains("_corrupt"))
        bdf.filter(col("_corrupt").isNull && col("doc_id").isNotNull)
          .drop("_corrupt")
      else bdf.filter(col("doc_id").isNotNull)
    val unk = graft.operators.WordPiece.UnkToken
    val tokenized = graft.operators.WordPiece
      .wordPieceApply(valid0, vocab)
      .withColumn("n_tokens", size(col("tokens")))
      .withColumn("has_unk", array_contains(col("tokens"), unk))
      .cache()
    try {
      // Writer-scoped dynamic overwrite: mutating the session conf for
      // the duration of the write leaked dynamic mode to any concurrent
      // partitioned overwrite in the same SparkSession (and the restore
      // raced when two streams shared a session) — the DataFrameWriter
      // option applies to this write only.
      tokenized.withColumn("batch", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(outPath)
      val agg = tokenized.agg(count(lit(1)),
        coalesce(sum("n_tokens"), lit(0L)),
        coalesce(sum(when(col("has_unk"), 1L).otherwise(0L)), lit(0L)))
        .head()
      onBatch(TokenizeReport(batchId, agg.getLong(0),
        agg.getLong(1), agg.getLong(2)))
    } finally tokenized.unpersist()
  }
}
