package graft.tools

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Writes the committed multimodal fixture (`fixtures/multimodal/
  * media.parquet`): an image-shaped corpus of opaque binary payloads with
  * typed metadata, captions, and a small embedding column — the input for
  * the `q50+` multimodal catalog entries and MultimodalSpec.
  *
  * Payloads are deterministic seeded pseudo-random bytes (the container
  * has no imaging libraries; the *decode* is stubbed in
  * [[graft.operators.Multimodal]] — the bytes just have to be stable and
  * shareable with the DuckDB oracle, which reads the same parquet).
  * Duplicate structure: ids (0,1) and (2,3) share byte payloads; ids 0 and
  * 5 have near-identical embeddings; ids 8 and 9 have sub-3-token captions.
  */
object MediaFixtureGen {

  val Dim = 8

  private def payload(seed: Int, n: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val a = new Array[Byte](n)
    rnd.nextBytes(a)
    a
  }

  private def vec(seed: Int, jitter: Double): Seq[Float] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(Dim)((rnd.nextGaussian() + jitter * 0.01).toFloat)
  }

  val schema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("bytes", BinaryType, nullable = false),
    StructField("caption", StringType, nullable = false),
    StructField("embedding", ArrayType(FloatType), nullable = false)))

  def rows: Seq[Row] = {
    val captions = Seq(
      "a red bicycle leaning on a wall",       // 0
      "a red bicycle leaning on a wall",       // 1 (dup bytes of 0)
      "two dogs running through shallow water",// 2
      "dogs in the water at the beach",        // 3 (dup bytes of 2)
      "city skyline at dusk with lights",      // 4
      "a crimson bike against brick",          // 5 (near-dup embedding of 0)
      "close up of a green leaf",              // 6
      "mountain trail under morning fog",      // 7
      "sunset photo",                          // 8 (short caption: filtered)
      "cat",                                   // 9 (short caption: filtered)
      "an empty train platform at night",      // 10
      "children flying kites in the park")     // 11
    // payload seeds: 0&1 share, 2&3 share, rest unique
    val byteSeeds = Seq(100, 100, 102, 102, 104, 105, 106, 107, 108, 109, 110, 111)
    // embedding seeds: 0&5 near-identical (same seed, tiny jitter)
    val vecSeeds = Seq(200, 201, 202, 203, 204, 200, 206, 207, 208, 209, 210, 211)
    captions.indices.map { i =>
      val w = 16; val h = 16
      Row(i.toLong, "image", w, h, payload(byteSeeds(i), w * h * 3),
        captions(i), vec(vecSeeds(i), jitter = if (i == 5) 1.0 else 0.0))
    }
  }

  def write(spark: SparkSession, dir: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/media.parquet")

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "fixtures/multimodal"
    val spark = SparkSession.builder()
      .appName("media-fixture-gen").master("local[2]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    write(spark, dir)
    spark.stop()
  }
}
