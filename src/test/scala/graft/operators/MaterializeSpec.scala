package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The lineage-cut strategy switch: localCheckpoint by default, reliable
  * checkpoint() under `spark.graft.checkpoint.reliable=true` — the
  * elastic-cluster path where executor loss must cost a re-read, not the
  * job. */
class MaterializeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("default cut localCheckpoints: values preserved, lineage truncated") {
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .filter($"id" % 2 === 0)
    val cut = Materialize.cut(df)
    assert(cut.count() === 50)
    assert(cut.collect().map(_.getLong(0)).toSet ===
      (2 to 100 by 2).map(_.toLong).toSet)
    // lineage is cut: the materialized plan scans an RDD, not the source
    assert(cut.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
  }

  test("reliable=true without a checkpoint dir fails fast with the " +
    "config hint") {
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try {
      val e = intercept[IllegalArgumentException] {
        Materialize.cut(Seq((1L, "a")).toDF("id", "v"))
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    } finally spark.conf.unset("spark.graft.checkpoint.reliable")
  }

  test("a non-boolean reliable value fails with a message NAMING the " +
    "config key, not a bare NumberFormat-style error") {
    spark.conf.set("spark.graft.checkpoint.reliable", "1")
    try {
      val e = intercept[IllegalArgumentException] {
        Materialize.cut(Seq((1L, "a")).toDF("id", "v"))
      }
      assert(e.getMessage.contains("spark.graft.checkpoint.reliable"))
      assert(e.getMessage.contains("'1'"))
    } finally spark.conf.unset("spark.graft.checkpoint.reliable")
  }

  test("localCheckpoint under dynamic allocation warns once (r19 " +
    "verdict #7: scale-in loses unrecomputable blocks); static " +
    "clusters stay silent") {
    // spark.dynamicAllocation.enabled is a launch-time core conf Spark
    // refuses to set on a running session, so the warning path is
    // driven directly with the boolean cut() reads from the launch conf.
    try {
      Materialize.resetElasticWarning()
      val err = new java.io.ByteArrayOutputStream()
      val old = System.err
      System.setErr(new java.io.PrintStream(err))
      try {
        Materialize.maybeWarnElastic(dynamicAllocation = false)
        assert(err.toString.isEmpty, "static cluster must stay silent")
        Materialize.maybeWarnElastic(dynamicAllocation = true)
        Materialize.maybeWarnElastic(dynamicAllocation = true) // once only
      } finally System.setErr(old)
      val msgs = err.toString
      assert(msgs.contains("graft.Materialize"), msgs)
      assert(msgs.contains("spark.graft.checkpoint.reliable"), msgs)
      assert(msgs.split("graft\\.Materialize").length == 2,
        s"warning must fire exactly once:\n$msgs")
      // the production cut() on this (static) test cluster is silent
      Materialize.resetElasticWarning()
      val err2 = new java.io.ByteArrayOutputStream()
      System.setErr(new java.io.PrintStream(err2))
      try Materialize.cut(Seq((1L, "a")).toDF("id", "v")).count()
      finally System.setErr(old)
      assert(!err2.toString.contains("graft.Materialize"), err2.toString)
    } finally Materialize.resetElasticWarning()
  }

  test("reliable=true with a checkpoint dir uses reliable checkpoint(): " +
    "values preserved, lineage truncated") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try {
      val df = (1 to 40).map(i => (i.toLong, i * 2.0)).toDF("id", "d")
        .filter($"id" > 10)
      val cut = Materialize.cut(df)
      assert(cut.count() === 30)
      assert(cut.queryExecution.optimizedPlan.toString
        .contains("LogicalRDD"))
      // the reliable path actually wrote checkpoint data to the dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, s"no checkpoint files under $dir")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.reliable")
    }
  }

  test("Dataset.unpersist leaves localCheckpoint blocks in place; " +
    "release frees them") {
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    val cut = (1 to 1000).toDF("id").repartition(4).localCheckpoint()
    val rdd = cut.queryExecution.analyzed.collectFirst {
      case r: LogicalRDD => r.rdd
    }.get
    def cachedParts = sc.getRDDStorageInfo.find(_.id == rdd.id)
      .map(_.numCachedPartitions).getOrElse(0)
    val parts = rdd.getNumPartitions
    assert(parts > 0 && cachedParts === parts)
    cut.unpersist(blocking = true)
    assert(cachedParts === parts, "Dataset.unpersist freed the checkpoint")
    assert(cut.count() === 1000)
    Materialize.release(cut)
    assert(cachedParts === 0)
  }

  test("release logs no warning, where RDD.unpersist warns that the " +
    "checkpoint cannot be recomputed") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.execution.LogicalRDD
    // WARN-and-above events logged on this thread.
    val me = Thread.currentThread.getName
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-release-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN) &&
            e.getThreadName == me) {
          warnings.add(e.getMessage.getFormattedMessage); ()
        }
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    val level = root.getLevel
    // A session that silenced its log must still show the warning here.
    if (level.intLevel < Level.WARN.intLevel) root.setLevel(Level.WARN)
    root.addAppender(capture, Level.WARN, null)
    ctx.updateLoggers()
    def checkpointed() = (1 to 100).toDF("id").repartition(2).localCheckpoint()
    try {
      val released = checkpointed()
      Materialize.release(released)
      assert(warnings.isEmpty, warnings)
      val unpersisted = checkpointed()
      unpersisted.queryExecution.analyzed.collectFirst {
        case r: LogicalRDD => r.rdd
      }.get.unpersist(blocking = true)
      assert(warnings.size === 1 &&
        warnings.peek.contains("locally checkpointed"), warnings)
    } finally {
      root.removeAppender(capture.getName)
      root.setLevel(level)
      ctx.updateLoggers()
      capture.stop()
    }
  }
}
