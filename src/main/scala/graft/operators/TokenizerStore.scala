package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A trained subword tokenizer's persistable state. Mirrors the three
  * production algorithm families (HF `tokenizer.json` model types):
  * BPE carries an ordered merge list, unigram a (piece, logProb) table,
  * WordPiece a rank-ordered piece list (greedy longest-match needs no
  * scores). */
sealed trait TokenizerModel
final case class BpeModel(merges: Seq[(String, String)])
    extends TokenizerModel
final case class UnigramModel(vocab: Seq[(String, Double)])
    extends TokenizerModel
final case class WordPieceModel(vocab: Seq[String]) extends TokenizerModel

/** Save/load for trained tokenizer vocabularies — the artifact step a
  * production pipeline needs between TRAIN (expensive, run once) and
  * APPLY (run per corpus refresh): apply-jobs load a committed
  * vocabulary instead of retraining (VERDICT r11 #4).
  *
  * Two formats, each chosen for where it travels:
  *   - **parquet** (`saveBpe`/`loadBpe` etc.): a tiny `rank`-ordered table per
  *     model — cluster-native (any Spark/DuckDB/engine reads it, the
  *     oracle replays straight from the artifact), schema-checked on
  *     load, and mergeable into catalogs. Rank pins order: BPE merge
  *     order IS the algorithm, unigram/WordPiece order is the
  *     deterministic (score desc, piece asc) contract.
  *   - **HF-shape JSON** (`saveJson/loadJson`): one self-describing
  *     file carrying the model `type` — the interchange shape of
  *     `tokenizer.json` (model section), for handoff to tooling that
  *     speaks that dialect. Doubles are emitted via `Double.toString`,
  *     which round-trips bit-exactly in Java.
  *
  * All IO goes through the Hadoop FileSystem of the given path, so
  * `file:/`, `hdfs:/` and object-store URIs behave identically. */
object TokenizerStore {

  // ----------------------------------------------------------------
  // Parquet
  // ----------------------------------------------------------------

  /** BPE merge list → parquet `(rank INT, left STRING, right STRING)`,
    * one file (vocabularies are driver-sized). */
  def saveBpe(spark: SparkSession, merges: Seq[(String, String)],
      path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load BPE merges in rank order. */
  def loadBpe(spark: SparkSession, path: String): Seq[(String, String)] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select(col("rank").cast("int"), col("left"), col("right"))
      .orderBy("rank")
      .as[(Int, String, String)]
      .collect().toSeq.map { case (_, a, b) => (a, b) }
  }

  /** Unigram vocabulary → parquet `(rank INT, piece STRING,
    * logp DOUBLE)` in (logProb desc, piece asc) rank order. */
  def saveUnigram(spark: SparkSession, vocab: Seq[(String, Double)],
      path: String): Unit = {
    import spark.implicits._
    vocab.zipWithIndex
      .map { case ((p, lp), i) => (i, p, lp) }
      .toDF("rank", "piece", "logp")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a unigram vocabulary in rank order. */
  def loadUnigram(spark: SparkSession, path: String)
      : Seq[(String, Double)] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select(col("rank").cast("int"), col("piece"),
        col("logp").cast("double"))
      .orderBy("rank")
      .as[(Int, String, Double)]
      .collect().toSeq.map { case (_, p, lp) => (p, lp) }
  }

  /** WordPiece vocabulary → parquet `(rank INT, piece STRING)`.
    * Continuation pieces carry their `##` prefix in `piece`. */
  def saveWordPiece(spark: SparkSession, vocab: Seq[String],
      path: String): Unit = {
    import spark.implicits._
    vocab.zipWithIndex.map { case (p, i) => (i, p) }
      .toDF("rank", "piece")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a WordPiece vocabulary in rank order. */
  def loadWordPiece(spark: SparkSession, path: String): Seq[String] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select(col("rank").cast("int"), col("piece"))
      .orderBy("rank")
      .as[(Int, String)]
      .collect().toSeq.map(_._2)
  }

  // ----------------------------------------------------------------
  // HF-shape JSON (tokenizer.json model section)
  // ----------------------------------------------------------------

  def saveJson(spark: SparkSession, model: TokenizerModel,
      path: String): Unit = {
    import org.json4s.JsonDSL._
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val modelJson: JObject = model match {
      case BpeModel(merges) =>
        ("type" -> "BPE") ~
          ("merges" -> merges.map { case (a, b) => List(a, b) })
      case UnigramModel(vocab) =>
        ("type" -> "Unigram") ~
          ("vocab" -> vocab.map { case (p, lp) =>
            JArray(List(JString(p), JDouble(lp)))
          })
      case WordPieceModel(vocab) =>
        ("type" -> "WordPiece") ~
          ("continuing_subword_prefix" -> "##") ~
          ("vocab" -> JObject(vocab.zipWithIndex.map { case (p, i) =>
            p -> JInt(i)
          }.toList: _*))
    }
    val doc: JObject = ("version" -> "1.0") ~ ("model" -> modelJson)
    val bytes = JsonMethods.pretty(JsonMethods.render(doc))
      .getBytes("UTF-8")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Load a model JSON; the `model.type` field dispatches the shape.
    * Throws IllegalArgumentException on an unknown or malformed model
    * — a vocabulary artifact that doesn't parse must fail the job, not
    * tokenize with an empty vocab. */
  def loadJson(spark: SparkSession, path: String): TokenizerModel = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val root =
      try JsonMethods.parse(in)
      finally in.close()
    def num(v: JValue): Double = v match {
      case JDouble(x) => x
      case JInt(x) => x.toDouble
      case JDecimal(x) => x.toDouble
      case JLong(x) => x.toDouble
      case other => throw new IllegalArgumentException(
        s"expected number, got $other in $path")
    }
    val model = root \ "model"
    model \ "type" match {
      case JString("BPE") =>
        val merges = (model \ "merges") match {
          case JArray(xs) => xs.map {
            case JArray(List(JString(a), JString(b))) => (a, b)
            case other => throw new IllegalArgumentException(
              s"bad BPE merge entry $other in $path")
          }
          case other => throw new IllegalArgumentException(
            s"bad BPE merges $other in $path")
        }
        BpeModel(merges)
      case JString("Unigram") =>
        val vocab = (model \ "vocab") match {
          case JArray(xs) => xs.map {
            case JArray(List(JString(piece), lp)) => (piece, num(lp))
            case other => throw new IllegalArgumentException(
              s"bad Unigram vocab entry $other in $path")
          }
          case other => throw new IllegalArgumentException(
            s"bad Unigram vocab $other in $path")
        }
        UnigramModel(vocab)
      case JString("WordPiece") =>
        val vocab = (model \ "vocab") match {
          case JObject(fields) => fields.map { case (piece, rank) =>
            (piece, num(rank).toInt)
          }.sortBy { case (piece, rank) => (rank, piece) }.map(_._1)
          case other => throw new IllegalArgumentException(
            s"bad WordPiece vocab $other in $path")
        }
        WordPieceModel(vocab)
      case other => throw new IllegalArgumentException(
        s"unknown tokenizer model type $other in $path")
    }
  }
}
