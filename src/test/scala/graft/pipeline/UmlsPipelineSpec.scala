package graft.pipeline

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.OntologyJob
import graft.sink.{UmlsExportConfig, WriteReport}
import graft.sources.ConfManifest

/** Resumable-pipeline behavior (R1/R2/R4): state survives across runs,
  * completed steps are skipped, probes fail on bad input.
  */
class UmlsPipelineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def conso(cui: String, aui: String, code: String, str: String,
      tty: String, sab: String): Map[String, String] =
    Map("CUI" -> cui, "LAT" -> "ENG", "AUI" -> aui, "SAB" -> sab,
      "TTY" -> tty, "CODE" -> code, "STR" -> str, "SUPPRESS" -> "N")

  private val fixture = Map(
    "MRCONSO" -> TestSpark.mkTable("MRCONSO", Seq(
      conso("C1", "A1", "X1", "Alpha", "PT", "SABA"),
      conso("C2", "A2", "Y1", "Beta", "PT", "SABB"))),
    "MRSTY" -> TestSpark.mkTable("MRSTY", Seq(
      Map("CUI" -> "C1", "TUI" -> "T001", "STN" -> "A1", "STY" -> "Entity"))),
    "MRSAB" -> TestSpark.mkTable("MRSAB", Seq(
      Map("RSAB" -> "SABA", "VSAB" -> "SABA1", "CURVER" -> "Y", "LAT" -> "ENG"),
      Map("RSAB" -> "SABB", "VSAB" -> "SABB1", "CURVER" -> "Y", "LAT" -> "ENG"))),
    "MRDOC" -> TestSpark.mkTable("MRDOC", Nil))

  private val jobs = Seq(
    OntologyJob("SABA", None, "SABA.ttl", loadOnCuis = false),
    OntologyJob("SABB", None, "SABB.ttl", loadOnCuis = false))

  private def mkPipeline(outDir: String, workDir: String): UmlsPipeline =
    new UmlsPipeline(spark, TestSpark.fixedSource(fixture), jobs,
      PipelineConfig(outDir, workDir, UmlsExportConfig(umlsVersion = "2025AB")))

  test("full run executes every step and produces all outputs") {
    val out = Files.createTempDirectory("pipe-out").toString
    val work = Files.createTempDirectory("pipe-work").toString
    val p = mkPipeline(out, work)
    val reports = p.run()
    assert(p.executed == Seq("validate_source", "semantic_types",
      "ontology:SABA", "ontology:SABB", "validate_output"))
    assert(reports.map(_.terms) == Seq(1, 1))
    assert(Files.exists(Paths.get(s"$out/umls_semantictypes.ttl")))
    assert(Files.exists(Paths.get(s"$out/SABA.ttl")))
    assert(Files.exists(Paths.get(s"$out/SABB.ttl")))
  }

  test("sharedScan export is byte-identical to the direct run and reads " +
    "each fat table a job-count-independent number of times") {
    import graft.sources.UmlsSource
    import scala.collection.mutable
    def countingSource(counts: mutable.Map[String, Int]): UmlsSource = {
      val inner = TestSpark.fixedSource(fixture)
      new UmlsSource {
        def table(name: String) = {
          counts.synchronized { counts(name) = counts.getOrElse(name, 0) + 1 }
          inner.table(name)
        }
      }
    }
    def run(sabs: Seq[String], shared: Boolean,
        counts: mutable.Map[String, Int]): String = {
      val out = Files.createTempDirectory("pipe-shared-out").toString
      val work = Files.createTempDirectory("pipe-shared-work").toString
      new UmlsPipeline(spark, countingSource(counts),
        sabs.map(s => OntologyJob(s, None, s"$s.ttl", loadOnCuis = false)),
        PipelineConfig(out, work, UmlsExportConfig(umlsVersion = "2025AB"),
          parallelism = 2, sharedScan = shared)).run()
      out
    }
    val direct = run(Seq("SABA", "SABB"), shared = false,
      mutable.Map.empty)
    val one = mutable.Map.empty[String, Int]
    run(Seq("SABA"), shared = true, one)
    val two = mutable.Map.empty[String, Int]
    val sharedOut = run(Seq("SABA", "SABB"), shared = true, two)
    // bytes identical: the union filter is a superset of every job's own
    for (f <- Seq("SABA.ttl", "SABB.ttl", "umls_semantictypes.ttl"))
      assert(Files.readAllBytes(Paths.get(s"$direct/$f")).toSeq ===
        Files.readAllBytes(Paths.get(s"$sharedOut/$f")).toSeq, f)
    // the point of the cache: doubling the manifest does NOT grow the
    // number of inner-source reads of any fat table (validate-probe reads
    // are job-count-independent too, so totals match exactly)
    for (t <- Seq("MRCONSO", "MRREL", "MRDEF", "MRSAT"))
      assert(two.getOrElse(t, 0) === one.getOrElse(t, 0),
        s"$t scan count grew with the manifest: $one vs $two")
  }

  test("run-level lookups: MRSAB, MRRANK and MRDOC reads do not grow with " +
    "the manifest, and every lookup job is labelled graft:run:<lookup>") {
    import graft.sources.UmlsSource
    import scala.collection.mutable
    val group = "graft-run-lookups-pin"
    val descs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = js.properties
        if (props != null &&
            group == props.getProperty("spark.jobGroup.id")) {
          descs.add(String.valueOf(
            props.getProperty("spark.job.description")))
          ()
        }
      }
    }
    def run(sabs: Seq[String]): Map[String, Int] = {
      val counts = mutable.Map.empty[String, Int]
      val inner = TestSpark.fixedSource(fixture)
      val counting = new UmlsSource {
        def table(name: String) = {
          counts.synchronized { counts(name) = counts.getOrElse(name, 0) + 1 }
          inner.table(name)
        }
      }
      val out = Files.createTempDirectory("pipe-lookups-out").toString
      new UmlsPipeline(spark, counting,
        sabs.map(s => OntologyJob(s, None, s"$s.ttl", loadOnCuis = false)),
        PipelineConfig(out, s"$out/.state",
          UmlsExportConfig(umlsVersion = "2025AB"), parallelism = 2)).run()
      counts.toMap
    }
    spark.sparkContext.addSparkListener(listener)
    val (one, two) =
      try {
        spark.sparkContext.setJobGroup(group, "run lookups pin")
        (run(Seq("SABA")), run(Seq("SABA", "SABB")))
      } finally {
        spark.sparkContext.clearJobGroup()
        Thread.sleep(1500) // listener events are posted asynchronously
        spark.sparkContext.removeSparkListener(listener)
      }
    for (t <- Seq("MRSAB", "MRRANK", "MRDOC"))
      assert(two.getOrElse(t, 0) === one.getOrElse(t, 0),
        s"$t read count grew with the manifest: $one vs $two")
    import scala.jdk.CollectionConverters._
    val runLabels = descs.asScala.filter(_.startsWith("graft:run:")).toSet
    assert(runLabels === Set("graft:run:release_lookups",
      "graft:run:semantic_types", "graft:run:property_docs"), descs)
  }

  test("q25m dataflow (multiSabExport): parallel shared-scan exports " +
    "keep inner fat-table reads job-count-independent and write every " +
    "SAB's file") {
    import graft.sources.UmlsSource
    import scala.collection.mutable
    def countingSource(counts: mutable.Map[String, Int]): UmlsSource = {
      val inner = TestSpark.fixedSource(fixture)
      new UmlsSource {
        def table(name: String) = {
          counts.synchronized { counts(name) = counts.getOrElse(name, 0) + 1 }
          inner.table(name)
        }
      }
    }
    def run(sabs: Seq[String], counts: mutable.Map[String, Int]) = {
      val outDir = Files.createTempDirectory("msab-out").toFile
      val reports = graft.catalog.UmlsQueries.multiSabExport(spark,
        countingSource(counts), sabs, outDir, parallelism = 2)
      sabs.foreach { sab =>
        assert(new java.io.File(outDir, s"$sab.ttl").length() > 0L, sab)
      }
      reports
    }
    val one = mutable.Map.empty[String, Int]
    val repOne = run(Seq("SABA"), one)
    val two = mutable.Map.empty[String, Int]
    val repTwo = run(Seq("SABA", "SABB"), two)
    assert(repOne.map(_.sab) === Seq("SABA"))
    assert(repTwo.map(_.sab) === Seq("SABA", "SABB"))
    assert(repTwo.forall(r => r.terms > 0 && r.errors == 0))
    // the shared scan's point: doubling the SAB manifest must NOT grow
    // the number of inner-source reads of any fat table
    for (t <- Seq("MRCONSO", "MRREL", "MRDEF", "MRSAT"))
      assert(two.getOrElse(t, 0) === one.getOrElse(t, 0),
        s"$t read count grew with the manifest: $one vs $two")
  }

  test("a completed run resumes as a no-op") {
    val out = Files.createTempDirectory("pipe-out").toString
    val work = Files.createTempDirectory("pipe-work").toString
    mkPipeline(out, work).run()
    val second = mkPipeline(out, work)
    second.run()
    assert(second.executed.isEmpty)
  }

  test("a killed run resumes from the first incomplete step") {
    val out = Files.createTempDirectory("pipe-out").toString
    val work = Files.createTempDirectory("pipe-work").toString
    // Simulate a run that died after SABA: pre-seed the state file and
    // the output the earlier run produced.
    val st = new PipelineState(s"$work/pipeline_state.json")
    st.markDone("validate_source")
    st.markDone("semantic_types")
    st.markDone("ontology:SABA")
    Files.write(Paths.get(s"$out/SABA.ttl"), "# from run 1\n".getBytes)
    val p = mkPipeline(out, work)
    p.run()
    assert(p.executed == Seq("ontology:SABB", "validate_output"))
    assert(Files.exists(Paths.get(s"$out/SABB.ttl")))
    // The resume-skipped step did not re-render SABA (content untouched).
    assert(Files.readAllBytes(Paths.get(s"$out/SABA.ttl")).length == 13L)
  }

  test("a resumed run fails validate_output when an earlier output vanished") {
    // The reference re-checks ALL expected outputs on every run
    // (`run_umls_pipeline.py:286-290`); resume-skip must not exempt a
    // deleted/truncated file.
    val out = Files.createTempDirectory("pipe-out").toString
    val work = Files.createTempDirectory("pipe-work").toString
    val st = new PipelineState(s"$work/pipeline_state.json")
    st.markDone("validate_source")
    st.markDone("semantic_types")
    st.markDone("ontology:SABA") // ...but SABA.ttl was deleted since
    val ex = intercept[IllegalArgumentException](mkPipeline(out, work).run())
    assert(ex.getMessage.contains("SABA.ttl"))
  }

  test("state file round-trips through markDone/load") {
    val work = Files.createTempDirectory("pipe-state").toString
    val path = s"$work/pipeline_state.json"
    val st = new PipelineState(path)
    st.markDone("a")
    st.markDone("ontology:X\"quoted\"")
    val reloaded = new PipelineState(path)
    assert(reloaded.isDone("a"))
    assert(reloaded.isDone("ontology:X\"quoted\""))
    assert(!reloaded.isDone("b"))
  }

  test("source probe fails on an empty MRCONSO (R2)") {
    val out = Files.createTempDirectory("pipe-out").toString
    val work = Files.createTempDirectory("pipe-work").toString
    val empty = fixture + ("MRCONSO" -> TestSpark.mkTable("MRCONSO", Nil))
    val p = new UmlsPipeline(spark, TestSpark.fixedSource(empty), jobs,
      PipelineConfig(out, work, UmlsExportConfig(umlsVersion = "2025AB")))
    val ex = intercept[IllegalArgumentException](p.run())
    assert(ex.getMessage.contains("MRCONSO is empty"))
  }

  test("config validation rejects a blank version (R4)") {
    val out = Files.createTempDirectory("pipe-out").toString
    val work = Files.createTempDirectory("pipe-work").toString
    intercept[IllegalArgumentException] {
      new UmlsPipeline(spark, TestSpark.fixedSource(fixture), jobs,
        PipelineConfig(out, work, UmlsExportConfig(umlsVersion = "")))
    }
  }

  test("exit code: --strict fails on any term error; without it only an " +
    "ontology with errors and no terms fails") {
    import graft.UmlsExportMain.exitCode
    def report(sab: String, terms: Long, errors: Long) =
      WriteReport(sab, s"$sab.ttl", terms, errors, 0, 0, 0)
    val clean = report("A", 10, 0)
    val someErrors = report("B", 9, 1)
    val allErrors = report("C", 0, 3)
    val resumed = WriteReport("D", "D.ttl", 0, 0, 0, 0, 0,
      skipped = true, resumed = true)
    for (strict <- Seq(false, true)) {
      assert(exitCode(Seq(clean, resumed), strict) === 0, s"strict=$strict")
      assert(exitCode(Seq(clean, allErrors), strict) === 1, s"strict=$strict")
    }
    assert(exitCode(Seq(clean, someErrors), strict = false) === 0)
    assert(exitCode(Seq(clean, someErrors), strict = true) === 1)
  }

  test("manifest parser skips comments and parses alt URIs (S4/F19)") {
    val lines = Seq(
      "# comment line",
      "MSH,MESH.ttl,load_on_codes",
      "HL7V3.0;HL7,HL7.ttl,load_on_cuis",
      "").iterator
    val jobs = ConfManifest.parse(lines)
    assert(jobs == Seq(
      OntologyJob("MSH", None, "MESH.ttl", loadOnCuis = false),
      OntologyJob("HL7V3.0", Some("HL7"), "HL7.ttl", loadOnCuis = true)))
  }
}
