package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{EventStreams, VecStreams}

/** ScaleStress streaming plane (VERDICT r13 #5): the four streaming
  * rates in the bench are engine-bound THROUGHPUT numbers; this adds
  * factor-scaled KNOWN-ANSWER gates — the streaming analog of the dedup
  * plant — driven through the real Structured Streaming engines (file
  * sources, micro-batches, watermarks, checkpoints), with every planted
  * fact asserted in-run:
  *
  *   - '''sessions''': U·S planted sessions (U = 50·factor users, S
  *     session windows an hour apart, E events 9 s apart), streamed one
  *     time-chunk file per micro-batch so the watermark genuinely
  *     advances between sessions and closure happens through BOTH paths
  *     (same-user gap-exceeded emission and the sentinel-driven
  *     horizon). Expected: exactly U·S closed sessions, every one with
  *     n_events = E and total_value = E — zero tolerance.
  *   - '''dedup survivors''': G groups (G = 1000·factor) × 3
  *     byte-identical copies, one copy per micro-batch, all inside the
  *     watermark horizon. Exact-fingerprint and SimHash streaming dedup
  *     must each keep exactly G survivors (cross-group SimHash
  *     collision odds at G = 100k are ~3e-10 — asserted exact).
  *   - '''IVF assignment distribution''': one-hot centroids, planted
  *     per-cluster populations n_c = (c+1)·u with ±0.02 coordinate
  *     noise (argmin-L2 margin ≥ 0.94, so assignment is PROVABLY the
  *     planted cluster), streamed as JSONL shards through
  *     [[VecStreams.clusteredIngest]] into the at-rest clustered
  *     layout, plus planted corrupt lines. Expected: every cluster
  *     partition holds exactly n_c vectors after read-back (partition
  *     pruning intact) and the corrupt count matches the plant.
  *
  * Embedded in [[ScaleStress]]'s single JSON artifact (steps/facts/
  * violations); isolated calibration main mirrors [[ScaleStressAnn]].
  */
object ScaleStressStreaming {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 100
    val workDir = if (args.length > 2) args(2)
      else java.nio.file.Files.createTempDirectory("graft_stream").toString
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER: the multi-JVM invariance axis (see Sessions).
    val spark = Sessions.withMaster(SparkSession.builder(), cpus)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val steps = ArrayBuffer[(String, Double)]()
    val facts = ArrayBuffer[(String, Long)]()
    val violations = ArrayBuffer[String]()
    run(spark, sfDir, factor, workDir, steps, facts, violations)
    println("{" + StressJson.fragment(steps, facts, violations) + "}")
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }

  def run(spark: SparkSession, sfDir: String, factor: Int, workDir: String,
      steps: ArrayBuffer[(String, Double)],
      facts: ArrayBuffer[(String, Long)],
      violations: ArrayBuffer[String]): Unit = {
    import spark.implicits._
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      steps += name -> (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scale] $name%-28s ${steps.last._2}%7.2f s")
      r
    }
    def freshDir(name: String): String = {
      val p = java.nio.file.Paths.get(workDir, name)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(p.toFile)
      java.nio.file.Files.createDirectories(p)
      p.toString
    }

    // ---- planted sessions -----------------------------------------
    val users = 50L * factor
    val sess = 4
    val ev = 25
    val base0 = java.time.Instant.parse("2026-01-01T00:00:00Z")
      .getEpochSecond
    val sessDir = freshDir("stream_sessions_in")
    // FileStreamSource orders files by (modification time, path); the
    // session plant NEEDS window files replayed time-forward or the
    // watermark marks earlier windows late. Sequential writes usually
    // get increasing mtimes, but a coarse-mtime filesystem (or two
    // writes in one tick) could reorder — stamp every new file with an
    // explicit strictly-increasing mtime after each chunk write.
    val stamped = scala.collection.mutable.HashSet.empty[String]
    var stampMs = 1600000000000L
    def stampNewFiles(dir: String): Unit = {
      val fs = Option(new java.io.File(dir).listFiles()).getOrElse(Array())
      fs.filter(_.isFile).sortBy(_.getName).foreach { f =>
        if (!stamped.contains(f.getName)) {
          f.setLastModified(stampMs)
          stamped += f.getName
        }
      }
      stampMs += 60000L
    }
    timed("stream_build_sessions") {
      // one file per session window, written IN ORDER so the file
      // source (maxFilesPerTrigger=1) replays time forward and the
      // watermark closes earlier sessions between micro-batches; each
      // window is one complete file, so no event is ever late
      (0 until sess).foreach { s =>
        spark.range(users * ev)
          .select(
            (lit(s.toLong * users * ev) + col("id")).as("event_id"),
            timestamp_seconds(lit(base0 + s * 3600L) +
              (col("id") % ev) * 9L).as("ts"),
            (col("id") / ev).cast("long").as("user_id"),
            lit("x").as("event_type"),
            lit(1.0).as("value"))
          .coalesce(1)
          .write.mode("append").parquet(sessDir)
        stampNewFiles(sessDir)
      }
      // sentinel: one far-future event per user closes every user's
      // final session through the gap path; sentinel sessions stay open
      spark.range(users)
        .select((lit(1L << 40) + col("id")).as("event_id"),
          timestamp_seconds(lit(base0 + (sess + 1) * 3600L)).as("ts"),
          col("id").as("user_id"), lit("x").as("event_type"),
          lit(1.0).as("value"))
        .coalesce(1)
        .write.mode("append").parquet(sessDir)
      stampNewFiles(sessDir)
    }
    timed("stream_sessionize") {
      val src = spark.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, " +
          "event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(sessDir)
        .as[EventStreams.Event]
      val q = EventStreams.sessionize(src, gapSeconds = 1800,
          watermarkDelay = "10 seconds")
        .toDF()
        .writeStream
        .format("memory")
        .queryName("scale_stream_sessions")
        .outputMode("append")
        .option("checkpointLocation", freshDir("stream_sessions_ckpt"))
        .start()
      q.processAllAvailable()
      q.stop()
    }
    val sOut = spark.table("scale_stream_sessions")
    val sAgg = sOut.agg(count(lit(1)),
      coalesce(sum("n_events"), lit(0L)),
      count(when(col("n_events") =!= ev ||
        col("total_value") =!= ev.toDouble, 1))).head()
    facts += "stream_sessions" -> sAgg.getLong(0)
    facts += "stream_session_events" -> sAgg.getLong(1)
    facts += "stream_bad_sessions" -> sAgg.getLong(2)
    val expSessions = users * sess
    if (sAgg.getLong(0) != expSessions)
      violations += s"stream_sessions=${sAgg.getLong(0)} != planted" +
        s" $expSessions"
    if (sAgg.getLong(1) != expSessions * ev)
      violations += s"stream_session_events=${sAgg.getLong(1)} !=" +
        s" planted ${expSessions * ev}"
    if (sAgg.getLong(2) != 0L)
      violations += s"stream_bad_sessions=${sAgg.getLong(2)} sessions" +
        s" with n_events != $ev or wrong total_value"

    // ---- planted duplicate survivors -------------------------------
    val groups = 1000L * factor
    val copies = 3
    val dupDir = freshDir("stream_dups_in")
    timed("stream_build_dups") {
      // copy k of every group in its own file/micro-batch, all copies
      // inside the watermark horizon — the duplicate arrives whole
      // batches after the original, which is the state-store path
      (0 until copies).foreach { k =>
        spark.range(groups)
          .select(
            timestamp_seconds(lit(base0 + k * 60L)).as("ts"),
            concat(lit("scale stream dup grp "), col("id"),
              lit(" body "),
              lpad(conv(col("id").cast("string"), 10, 16), 24, "q"))
              .as("text"))
          .coalesce(2)
          .write.mode("append").parquet(dupDir)
      }
    }
    def runDedup(name: String,
        dedup: DataFrame => DataFrame): Long = {
      val src = spark.readStream
        .schema("ts TIMESTAMP, text STRING")
        .option("maxFilesPerTrigger", 2)
        .parquet(dupDir)
      val q = dedup(src)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", freshDir(s"${name}_ckpt"))
        .start()
      q.processAllAvailable()
      q.stop()
      spark.table(name).count()
    }
    val exactSurv = timed("stream_exact_dedup") {
      runDedup("scale_stream_exact",
        df => EventStreams.streamingExactDedup(df, "2 hours"))
    }
    val nearSurv = timed("stream_neardup_dedup") {
      runDedup("scale_stream_near",
        df => EventStreams.streamingNearDupDedup(df, "2 hours"))
    }
    facts += "stream_exact_survivors" -> exactSurv
    facts += "stream_neardup_survivors" -> nearSurv
    facts += "expect_stream_survivors" -> groups
    if (exactSurv != groups)
      violations += s"stream_exact_survivors=$exactSurv != planted $groups"
    if (nearSurv != groups)
      violations += s"stream_neardup_survivors=$nearSurv != planted $groups"

    // ---- planted IVF assignment distribution -----------------------
    val k = 32
    val perUnit = 2L * factor // cluster c gets (c+1)*perUnit vectors
    val centroids = Array.tabulate(k, k)((c, j) => if (c == j) 1.0 else 0.0)
    val vecDir = freshDir("stream_vecs_in")
    val corruptLines = 100
    timed("stream_build_vecs") {
      (0 until k).foreach { c =>
        val off = (0 until c).map(i => (i + 1) * perUnit).sum
        spark.range((c + 1) * perUnit)
          .select((lit(off) + col("id")).as("vec_id"))
          .select(col("vec_id"),
            expr(s"transform(sequence(0, ${k - 1}), j -> cast(" +
              s"CASE WHEN j = $c THEN 1.0 " +
              s"ELSE sin((vec_id * 31 + j) * 0.7) * 0.02 END AS float))")
              .as("embedding"))
          .coalesce(1)
          .write.mode("append").json(vecDir)
      }
      // planted corrupt shard: truncated/garbage lines must be counted
      // and dropped, never indexed
      val junk = (1 to corruptLines)
        .map(i => s"""{"vec_id": $i, "embedding": [0.1, broken""")
        .mkString("\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(vecDir, "zz_corrupt.json"),
        (junk + "\n").getBytes("UTF-8"))
    }
    val reports = ArrayBuffer[VecStreams.ClusterReport]()
    val ivfOut = freshDir("stream_ivf_layout")
    timed("stream_ivf_ingest") {
      val q = VecStreams.clusteredIngest(
        VecStreams.jsonlTail(spark, vecDir, maxFilesPerTrigger = 8),
        centroids, ivfOut, freshDir("stream_ivf_ckpt"),
        r => reports.synchronized { reports += r })
      q.processAllAvailable()
      q.stop()
    }
    val got = spark.read.parquet(ivfOut)
      .groupBy("cluster").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val badClusters = (0 until k).count { c =>
      got.getOrElse(c, 0L) != (c + 1).toLong * perUnit
    }
    val totalVecs = got.values.sum
    val corrupt = reports.synchronized(reports.map(_.nCorrupt).sum)
    facts += "stream_ivf_vectors" -> totalVecs
    facts += "stream_ivf_bad_clusters" -> badClusters.toLong
    facts += "stream_ivf_corrupt" -> corrupt
    val expVecs = (1 to k).map(c => c.toLong * perUnit).sum
    if (totalVecs != expVecs)
      violations += s"stream_ivf_vectors=$totalVecs != planted $expVecs"
    if (badClusters != 0)
      violations += s"stream_ivf_bad_clusters=$badClusters clusters" +
        " hold a population != their planted (c+1)*unit count"
    if (corrupt != corruptLines.toLong)
      violations += s"stream_ivf_corrupt=$corrupt != planted $corruptLines"

    // memory-sink tables are driver state — drop them so repeated runs
    // in one session (calibration) start clean
    Seq("scale_stream_sessions", "scale_stream_exact", "scale_stream_near")
      .foreach(t => spark.catalog.dropTempView(t))
  }
}
