package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Gates the r18-verdict-#7 state-partition sizing knob so it cannot
  * rot: [[StateSizing.recommended]] encodes the cold-JVM sweep
  * recorded in BENCH_NOTES r18 (~cores/2), and
  * [[StateSizing.withStatePartitions]] must actually govern the state
  * partition count a streaming query bakes into its checkpoint — and
  * must leave the session conf untouched afterwards (the committed
  * bench runs with the session default and must stay byte-comparable
  * across rounds). */
class StateSizingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("recommended() is the measured ~cores/2 rule with floor 1") {
    assert(StateSizing.recommended(32) === 16)
    assert(StateSizing.recommended(8) === 4)
    assert(StateSizing.recommended(1) === 1)
  }

  test("withStatePartitions(None) leaves the session conf untouched; " +
      "Some(p) sets it inside the extent and restores after, even on " +
      "failure") {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    StateSizing.withStatePartitions(spark, None) {
      assert(spark.conf.get(key) === prior)
    }
    StateSizing.withStatePartitions(spark, Some(5)) {
      assert(spark.conf.get(key) === "5")
    }
    assert(spark.conf.get(key) === prior)
    intercept[RuntimeException] {
      StateSizing.withStatePartitions(spark, Some(5)) {
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get(key) === prior)
  }

  test("a stateful query first-started under Some(3) bakes exactly 3 " +
      "state partitions into its checkpoint") {
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_state_sizing").toString
    val in = MemoryStream[(Long, String)](spark)
    in.addData((1L, "a"), (2L, "b"), (1L, "a"))
    StateSizing.withStatePartitions(spark, Some(3)) {
      val q = in.toDF().toDF("id", "v")
        .dropDuplicates("id")
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val parts = new java.io.File(s"$ckpt/state/0").listFiles()
      .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
      .map(_.getName).sorted
    assert(parts.toSeq === Seq("0", "1", "2"),
      s"state partitions: ${parts.mkString(",")}")
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(ckpt))
  }
}
