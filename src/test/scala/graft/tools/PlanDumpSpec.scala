package graft.tools

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[PlanDump.dump]] explains what an entry ran, not only what it
  * returned: an entry that writes eagerly (q25e's export, the q53
  * family's dedup index) must show that write's executed plan. */
class PlanDumpSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("an entry's eager parquet write is dumped ahead of its frame") {
    val out = Files.createTempDirectory("graft-plandump").resolve("written")
    val dump = PlanDump.dump(spark) {
      (1 to 20).toDF("written_id").filter($"written_id" % 3 === 0)
        .write.parquet(out.toString)
      spark.range(5).toDF("returned_id")
    }
    val write = dump.indexOf("== SQL execution 1: ")
    val frame = dump.indexOf("== Returned frame")
    assert(write >= 0 && frame > write, dump)
    val executed = dump.substring(write, frame)
    assert(executed.contains("InsertIntoHadoopFsRelationCommand"), dump)
    assert(executed.contains(out.toString), dump)
    assert(executed.contains("written_id"), dump)
    assert(!dump.contains("== SQL execution 2: "), dump)
    assert(dump.substring(frame).contains("returned_id"), dump)
  }
}
